"""SQL-statement front for the DML/DDL tier: the reference's statement
dispatcher (``Planner::generate``, src/planner/mod.rs:21-38) as a thin
parser over DdlSession / ManagedTable, so ``ExecutionContext.execute``
accepts the SAME statement surface the reference plans — INSERT /
UPDATE / DELETE / CREATE TABLE / CREATE INDEX / DROP / ALTER — and,
unlike the reference (which stops at pretty-printing the plan,
src/context.rs:53), actually executes them.

Parsing strategy: statements are recognized by leading keyword and cut
at TOP-LEVEL keywords (WHERE / SET / VALUES) with a quote- and
paren-aware scanner — expressions inside them are never re-parsed here;
they pass through to Spark SQL (`F.expr`) which is the single
expression grammar everywhere else in the engine. VALUES literal rows
are evaluated by Spark itself (``SELECT * FROM (VALUES ...)``), so
every literal form Spark accepts works here — no hand-rolled literal
parser. VALUES statements are human-scale by nature; the bounded
driver collect that aligns them to the target schema is the same shape
as the reference's ``Vec<Vec<LogicalExpr>>`` (logical_plan.rs:49).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

from mesin_spark.catalog import local_frame
from mesin_spark.dml import ColumnDefinition, DdlSession

#: Statement keywords this router owns; anything else is a query and
#: falls through to ``spark.sql`` (the Query arm of the dispatcher).
DML_KEYWORDS = ("INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "ALTER", "MERGE", "TRUNCATE", "ANALYZE", "COPY", "REFRESH", "OPTIMIZE", "VACUUM", "DESCRIBE", "SHOW", "RESTORE")


def is_dml(sql: str) -> bool:
    head = sql.lstrip().split(None, 1)
    if not head:
        return False
    kw = head[0].upper()
    # CREATE/DROP VIEW stay on the spark.sql path (temp-view DDL is
    # native there); everything else under these keywords routes here.
    if kw in ("CREATE", "DROP"):
        rest = head[1].upper() if len(head) > 1 else ""
        if re.match(r"(OR\s+REPLACE\s+)?(GLOBAL\s+)?(TEMP(ORARY)?\s+)?VIEW\b", rest):
            return False
    if kw == "REFRESH":
        # only REFRESH MATERIALIZED VIEW is ours; Spark's native
        # REFRESH TABLE / REFRESH FUNCTION statements stay on spark.sql
        rest = head[1].upper() if len(head) > 1 else ""
        return rest.startswith("MATERIALIZED")
    if kw == "DESCRIBE":
        # only DESCRIBE HISTORY is ours; Spark's native DESCRIBE
        # TABLE/QUERY/FUNCTION statements stay on spark.sql
        rest = head[1].upper() if len(head) > 1 else ""
        return rest.startswith("HISTORY")
    if kw == "SHOW":
        # only SHOW CREATE TABLE is ours (reconstructed from the managed
        # catalog); Spark's native SHOW TABLES/VIEWS/etc stay on spark.sql
        rest = head[1].upper() if len(head) > 1 else ""
        return bool(re.match(r"CREATE\s+TABLE\b", rest))
    return kw in DML_KEYWORDS


# -- top-level text scanning ----------------------------------------------


def _scan(s: str):
    """Yield (index, char, depth, in_quote) over s, tracking paren depth
    and single/double-quoted runs ('' doubling AND backslash escapes
    honored — Spark's default parser accepts both)."""
    depth, quote, i, n = 0, None, 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\" and i + 1 < n:
                yield i, ch, depth, True
                yield i + 1, s[i + 1], depth, True
                i += 2
                continue
            if ch == quote:
                if quote == "'" and i + 1 < n and s[i + 1] == "'":
                    yield i, ch, depth, True
                    i += 1
                else:
                    quote = None
            yield i, ch, depth, quote is not None
        else:
            if ch in ("'", '"'):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            yield i, ch, depth, quote is not None
        i += 1


def _find_keyword(s: str, word: str) -> int:
    """Index of the first TOP-LEVEL, unquoted, word-boundary occurrence
    of ``word`` (case-insensitive), or -1."""
    w = word.upper()
    L = len(w)
    up = s.upper()
    for i, _ch, depth, q in _scan(s):
        if depth == 0 and not q and up.startswith(w, i):
            before_ok = i == 0 or not (up[i - 1].isalnum() or up[i - 1] == "_")
            j = i + L
            after_ok = j >= len(s) or not (up[j].isalnum() or up[j] == "_")
            if before_ok and after_ok:
                return i
    return -1


def _split_toplevel(s: str, sep: str = ",") -> list[str]:
    """Split on top-level, unquoted ``sep``."""
    parts, start = [], 0
    for i, ch, depth, q in _scan(s):
        if ch == sep and depth == 0 and not q:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


# -- statement handlers ----------------------------------------------------


def _status(sess: DdlSession, statement: str, target: str, n: int) -> DataFrame:
    return local_frame(
        sess.spark, [(statement, target, n)],
        "statement string, target string, rows_affected long",
    )


def _insert(sess: DdlSession, sql: str) -> DataFrame:
    m = re.match(rf"INSERT\s+INTO\s+({_IDENT})\s*", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse INSERT statement: {sql[:80]}")
    table, rest = m.group(1), sql[m.end() :].lstrip()
    columns = None
    if rest.startswith("("):
        close = next(
            i for i, ch, depth, q in _scan(rest) if ch == ")" and depth == 0 and not q
        )
        # normalize_dialect rewrites "quoted" identifiers to `backticked`
        # before dispatch — strip both quoting styles or no name matches
        # the schema and every column silently inserts NULL
        columns = [c.strip().strip('"').strip("`") for c in rest[1:close].split(",")]
        rest = rest[close + 1 :].lstrip()
    mt = sess.table(table)
    if re.match(r"VALUES\b", rest, re.I):
        # Spark evaluates the literal rows — every literal Spark SQL
        # accepts (dates, intervals, arrays, NULL...) works unchanged.
        src = sess.spark.sql(f"SELECT * FROM ( {rest} )")
    elif re.match(r"(SELECT|WITH)\b", rest, re.I) or rest.startswith("("):
        src = sess.spark.sql(rest)
    else:
        raise ValueError(f"INSERT must be followed by VALUES or SELECT: {sql[:80]}")
    schema = mt.df().schema
    if columns is None and len(src.columns) != len(schema.fields):
        raise ValueError(
            f"INSERT without a column list must supply all "
            f"{len(schema.fields)} target columns; source produces "
            f"{len(src.columns)}"
        )
    if columns:
        if len(columns) != len(src.columns):
            raise ValueError(
                f"INSERT column list has {len(columns)} names "
                f"but the source produces {len(src.columns)} columns"
            )
        # name the positional source columns, then widen to the full
        # target schema (missing columns NULL) — all JVM-side, with the
        # same cast-to-target policy as insert_select
        from pyspark.sql import functions as F

        named = src.toDF(*columns)
        src = named.select(
            *[
                (F.col(f.name) if f.name in columns else F.lit(None)).alias(f.name)
                for f in schema.fields
            ]
        )
    # persist the batch so the affected-rows count and the append share
    # one computation of the source plan (the batch is bounded by what's
    # being inserted, so caching it is safe at any table size)
    src = src.persist()
    try:
        n = src.count()
        mt.insert_select(src)
    finally:
        src.unpersist()
    return _status(sess, "INSERT", table, n)


def _update(sess: DdlSession, sql: str) -> DataFrame:
    m = re.match(rf"UPDATE\s+({_IDENT})\s+SET\s+", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse UPDATE statement: {sql[:80]}")
    table, rest = m.group(1), sql[m.end() :]
    wpos = _find_keyword(rest, "WHERE")
    set_part, where = (
        (rest[:wpos], rest[wpos + 5 :].strip()) if wpos >= 0 else (rest, None)
    )
    assignments: dict[str, str] = {}
    for a in _split_toplevel(set_part):
        eq = a.find("=")
        col, expr = a[:eq].strip().strip('"').strip("`"), a[eq + 1 :].strip()
        assignments[col] = expr
    mt = sess.table(table)
    # affected-rows report, pre-update semantics; one count, scoped to
    # the WHERE when present (a discarded full-table count is a full
    # extra scan per UPDATE at scale)
    n = mt.df().filter(where).count() if where is not None else mt.df().count()
    mt.update(assignments, where=where)
    return _status(sess, "UPDATE", table, n)


def _delete(sess: DdlSession, sql: str) -> DataFrame:
    m = re.match(rf"DELETE\s+FROM\s+({_IDENT})\s*", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse DELETE statement: {sql[:80]}")
    table, rest = m.group(1), sql[m.end() :].strip()
    where = None
    if rest:
        if not re.match(r"WHERE\b", rest, re.I):
            raise ValueError(f"Unexpected DELETE clause: {rest[:60]}")
        where = rest[5:].strip()
    mt = sess.table(table)
    n = mt.df().filter(where).count() if where else mt.df().count()
    mt.delete(where=where)
    return _status(sess, "DELETE", table, n)


def _column_def(text: str) -> ColumnDefinition:
    parts = text.split()
    name = parts[0].strip('"')
    # type may be parameterized: DECIMAL(10,2) arrives unsplit because
    # column defs are cut at top-level commas only
    m = re.match(rf"{re.escape(parts[0])}\s+([A-Za-z0-9_]+(\s*\([^)]*\))?)", text)
    data_type = m.group(1).replace(" ", "") if m else parts[1]
    tail = text[m.end() :] if m else " ".join(parts[2:])
    up = f" {tail.upper()} "
    default = None
    dm = re.search(r"\bDEFAULT\s+(.+?)(\s+(NOT\s+NULL|PRIMARY\s+KEY)|\s*$)", tail, re.I)
    if dm:
        default = dm.group(1).strip()
    return ColumnDefinition(
        name,
        data_type,
        nullable=" NOT NULL " not in up and " PRIMARY KEY " not in up,
        default=default,
        primary_key=" PRIMARY KEY " in up,
    )


_TABLE_CONSTRAINT_RE = re.compile(
    r"^(CONSTRAINT\s+\S+\s+)?(PRIMARY\s+KEY|FOREIGN\s+KEY|UNIQUE|CHECK)\b", re.I
)


def _truncate(sess: DdlSession, sql: str) -> DataFrame:
    m = re.match(rf"TRUNCATE\s+(TABLE\s+)?({_IDENT})\s*$", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse TRUNCATE statement: {sql[:80]}")
    mt = sess.table(m.group(2))
    n = mt.df().count()
    mt.delete()
    return _status(sess, "TRUNCATE", m.group(2), n)


def _analyze(sess: DdlSession, sql: str) -> DataFrame:
    """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b, ...] — the
    statement face of the ext/stats tier (the reference dispatcher has
    no ANALYZE arm; Spark's own ANALYZE writes to a Hive metastore this
    engine does not run). Builds summaries + equi-width histograms for
    the named (default: all numeric) columns, persists the artifact
    next to the table data (<table>/_stats — versioned with the table,
    vacuumed with it), records the pointer in the catalog entry's
    properties, and returns the summary rows. Estimators and the
    stats-driven join planner then load_stats() from the catalog
    pointer."""
    m = re.match(
        rf"ANALYZE\s+TABLE\s+({_IDENT})\s+COMPUTE\s+STATISTICS"
        rf"(\s+FOR\s+COLUMNS\s+(.+))?\s*$",
        sql, re.I,
    )
    if not m:
        raise ValueError(f"Cannot parse ANALYZE statement: {sql[:80]}")
    name = m.group(1)
    mt = sess.table(name)
    df = mt.df()
    if m.group(3):
        cols = [c.strip() for c in m.group(3).split(",") if c.strip()]
    else:
        numeric = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}
        cols = [
            f.name for f in df.schema.fields
            if f.dataType.simpleString().split("(")[0] in numeric
        ]
    if not cols:
        raise ValueError(f"No numeric columns to analyze in '{name}'")
    from mesin_spark.ext.stats import build_stats, write_stats

    stats = build_stats(df, cols)
    if os.path.isfile(mt.path):
        # table registered from a single parquet FILE: _stats can't nest
        # under it — keep the artifact beside the file (same dir, suffixed)
        stats_path = mt.path + "._stats"
    else:
        stats_path = os.path.join(mt.path, "_stats")
    write_stats(stats, sess.spark, stats_path)
    meta = sess.catalog.tables[name]
    meta.properties["stats_path"] = stats_path
    meta.properties["stats_columns"] = cols
    rows = [
        (
            c,
            int(r["n"]),
            int(r["n_null"]),
            int(r["ndv"]),
            float(r["min_v"]) if r["min_v"] is not None else None,
            float(r["max_v"]) if r["max_v"] is not None else None,
        )
        for c, r in stats.summary.items()
    ]
    return local_frame(
        sess.spark, rows,
        "col STRING, n BIGINT, n_null BIGINT, ndv BIGINT, min_v DOUBLE, max_v DOUBLE",
    )


def _copy(sess: DdlSession, sql: str) -> DataFrame:
    """COPY <table | (query)> TO '<path>' (FORMAT csv|parquet|orc|json)
    — the DuckDB/Postgres-style export statement, routed to the
    distributed sinks in mesin_spark.sources (one file per partition,
    no driver funnel). The reference has no export arm; its only I/O is
    the hardcoded CSV ingest (src/context.rs:30-40) — this is the
    write-side completion of that surface."""
    m = re.match(
        r"COPY\s+(.+?)\s+TO\s+'([^']+)'\s*(?:\(\s*FORMAT\s+(\w+)\s*\))?\s*$",
        sql, re.I | re.S,
    )
    if not m:
        raise ValueError(f"Cannot parse COPY statement: {sql[:80]}")
    src, path, fmt = m.group(1).strip(), m.group(2), (m.group(3) or "parquet").lower()
    if src.startswith("(") and src.endswith(")"):
        df = sess.spark.sql(src[1:-1])
    else:
        df = sess.table(src).df() if src in sess.catalog.tables else sess.spark.table(src)
    from mesin_spark import sources as S

    # write FIRST, count from the SINK: a pre-write count() would run
    # the source query twice (a 2-hour export becomes 4) and could
    # disagree with what was actually written if the source moves
    # between the two jobs. Reading the written files back is a
    # column-pruned scan of the export (metadata-cheap for columnar
    # formats) and reports the truth of the sink.
    if fmt == "csv":
        S.write_csv(df, path)
        n = sess.spark.read.option("header", "true").csv(path).count()
    elif fmt == "json":
        S.write_jsonl(df, path)
        n = sess.spark.read.json(path).count()
    elif fmt == "orc":
        S.write_orc(df, path)
        n = sess.spark.read.orc(path).count()
    elif fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
        n = sess.spark.read.parquet(path).count()
    else:
        raise ValueError(f"COPY: unsupported format {fmt!r}")
    return _status(sess, "COPY", path, n)


def _split_when_clauses(whens: str) -> list[str]:
    """Split a MERGE's WHEN region at TOP-LEVEL WHEN keywords only —
    quote/paren aware AND CASE-depth aware, so a CASE WHEN ... END
    inside an UPDATE SET expression never shatters the clause."""
    up = whens.upper()
    case_depth = 0
    cuts = []
    for i, _ch, depth, q in _scan(whens):
        if q or depth != 0:
            continue
        before_ok = i == 0 or not (up[i - 1].isalnum() or up[i - 1] == "_")
        if not before_ok:
            continue

        def word_at(w):
            j = i + len(w)
            return up.startswith(w, i) and (
                j >= len(whens) or not (up[j].isalnum() or up[j] == "_")
            )

        if word_at("CASE"):
            case_depth += 1
        elif word_at("END"):
            case_depth = max(0, case_depth - 1)
        elif word_at("WHEN") and case_depth == 0:
            cuts.append(i)
    parts = []
    for k, start in enumerate(cuts):
        end = cuts[k + 1] if k + 1 < len(cuts) else len(whens)
        parts.append(whens[start + 4 : end])
    return parts


def _merge(sess: DdlSession, sql: str) -> DataFrame:
    """MERGE INTO tgt USING (src|(query)) [AS alias] ON equi-keys
    WHEN MATCHED THEN UPDATE SET ... | WHEN MATCHED THEN DELETE
    [WHEN NOT MATCHED THEN INSERT ...] — the equi-key upsert subset
    ManagedTable.merge executes (one full-outer shuffle; AQE broadcasts
    a small source)."""
    m = re.match(rf"MERGE\s+INTO\s+({_IDENT})\s+USING\s+", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse MERGE statement: {sql[:80]}")
    table, rest = m.group(1), sql[m.end() :].lstrip()
    if rest.startswith("("):
        close = next(
            i for i, ch, depth, q in _scan(rest) if ch == ")" and depth == 0 and not q
        )
        source = sess.spark.sql(rest[1:close])
        rest = rest[close + 1 :].lstrip()
    else:
        sm = re.match(rf"({_IDENT})", rest)
        source = sess.spark.table(sm.group(1))
        rest = rest[sm.end() :].lstrip()
    am = re.match(rf"(AS\s+)?({_IDENT})\s+", rest, re.I)
    if am and am.group(2).upper() != "ON":
        rest = rest[am.end() :].lstrip()
    om = re.match(r"ON\s+", rest, re.I)
    if not om:
        raise ValueError(f"MERGE missing ON clause: {rest[:60]}")
    rest = rest[om.end() :]
    wpos = _find_keyword(rest, "WHEN")
    if wpos < 0:
        raise ValueError("MERGE has no WHEN clauses")
    cond, whens = rest[:wpos], rest[wpos:]
    on_cols = []
    for part in re.split(r"\bAND\b", cond, flags=re.I):
        cm = re.match(
            rf"\s*(?:{_IDENT}\.)?({_IDENT})\s*=\s*(?:{_IDENT}\.)?({_IDENT})\s*$", part
        )
        if not cm or cm.group(1) != cm.group(2):
            raise ValueError(
                f"MERGE ON supports equi-key conditions on same-named columns; got {part.strip()!r}"
            )
        on_cols.append(cm.group(1))
    when_matched, update_cols, insert_unmatched = None, None, False
    for clause in _split_when_clauses(whens):
        clause = clause.strip()
        if not clause:
            continue
        if re.match(r"MATCHED\s+THEN\s+DELETE", clause, re.I):
            when_matched = "delete"
        elif re.match(r"MATCHED\s+THEN\s+UPDATE\s+SET\s+", clause, re.I):
            when_matched = "update"
            set_part = re.sub(r"(?i)^MATCHED\s+THEN\s+UPDATE\s+SET\s+", "", clause)
            update_cols = [
                a.split("=")[0].strip().split(".")[-1].strip('"').strip("`")
                for a in _split_toplevel(set_part)
            ]
        elif re.match(r"NOT\s+MATCHED\s+THEN\s+INSERT\b", clause, re.I):
            insert_unmatched = True
            extra = re.sub(r"(?i)^NOT\s+MATCHED\s+THEN\s+INSERT\b", "", clause).strip()
            if extra:
                # the append inserts the source row verbatim, so only the
                # IDENTITY column-list form — (c1..cn) VALUES (refs to the
                # same columns, in order) — is expressible; anything that
                # would transform values must ERROR, never be silently
                # discarded
                im = re.match(r"\(([^)]*)\)\s+VALUES\s+\((.*)\)\s*$", extra, re.I | re.S)
                ok = False
                if im:
                    cols = [c.strip().strip('"').strip("`") for c in im.group(1).split(",")]
                    vals = [
                        v.strip().split(".")[-1].strip().strip('"').strip("`")
                        for v in _split_toplevel(im.group(2))
                    ]
                    ok = cols == vals and all(
                        re.fullmatch(_IDENT, c) for c in cols
                    )
                if not ok:
                    raise ValueError(
                        "MERGE INSERT supports the bare form or the identity "
                        "column list (INSERT (c1..) VALUES (src.c1..)); "
                        "transform the source query instead of "
                        f"INSERT {extra[:40]!r}"
                    )
        else:
            raise ValueError(f"Unsupported MERGE WHEN clause: {clause[:60]}")
    mt = sess.table(table)
    if when_matched is None:
        # insert-only MERGE: matched target rows must pass through
        # UNCHANGED (update_cols=[]), not be overwritten by the source
        when_matched, update_cols = "update", []
    # persist so the affected-rows count and the merge share one
    # computation of the source plan (bounded by the batch being merged)
    src = source.select(*mt.df().columns).persist()
    try:
        n = src.count()
        mt.merge(
            src,
            on=on_cols,
            update_cols=update_cols,
            when_matched=when_matched,
            insert_unmatched=insert_unmatched,
        )
    finally:
        src.unpersist()
    return _status(sess, "MERGE", table, n)


def _create_matview(sess: DdlSession, sql: str, m: "re.Match") -> DataFrame:
    """CREATE MATERIALIZED VIEW <name> KEY (<id cols>) AS
       SELECT <group cols>, COUNT(*) [AS _], SUM(<col>) [AS _]...
       FROM <base table> GROUP BY <group cols>

    The restricted self-maintainable form ext/matview.AggView supports:
    bare-identifier group columns, COUNT(*) (required — it is the view's
    maintenance anchor), SUM of bare columns. Aliases are accepted and
    ignored; the materialized schema is canonical (_rows / sum_<col>),
    exactly what REFRESH maintains. The base is auto-upgraded to the
    versioned layout (idempotent) since the refresh contract is defined
    over its commit history."""
    from mesin_spark.ext.matview import create_agg_view

    name = m.group(1)
    key_cols = [c.strip() for c in m.group(2).split(",") if c.strip()]
    if not key_cols:
        raise ValueError("CREATE MATERIALIZED VIEW requires KEY (cols)")
    body = m.group(3).strip()
    sm = re.match(
        rf"SELECT\s+(.*?)\s+FROM\s+({_IDENT})\s+GROUP\s+BY\s+(.+)$",
        body,
        re.I | re.S,
    )
    if not sm:
        raise ValueError(
            "materialized view body must be SELECT ... FROM <table> GROUP BY ..."
        )
    group_by = [g.strip() for g in sm.group(3).rstrip(";").split(",")]
    group_cols: list[str] = []
    sum_cols: list[str] = []
    has_count = False
    for item in _split_toplevel(sm.group(1)):
        expr = item.strip()
        alias = re.match(rf"(?is)^(.+?)\s+AS\s+{_IDENT}$", expr)
        if alias:
            expr = alias.group(1).strip()
        if re.fullmatch(r"(?is)COUNT\s*\(\s*\*\s*\)", expr):
            has_count = True
        elif (sum_m := re.fullmatch(rf"(?is)SUM\s*\(\s*({_IDENT})\s*\)", expr)):
            sum_cols.append(sum_m.group(1))
        elif re.fullmatch(_IDENT, expr):
            group_cols.append(expr)
        else:
            raise ValueError(
                f"unsupported materialized-view select item {item.strip()!r} "
                "(supported: group columns, COUNT(*), SUM(col))"
            )
    if not has_count:
        raise ValueError(
            "materialized view must include COUNT(*) — it is the "
            "maintenance anchor (_rows) REFRESH folds deltas into"
        )
    if group_cols != group_by:
        raise ValueError(
            f"GROUP BY list {group_by} must equal the selected group "
            f"columns {group_cols}"
        )
    base = sess.table(sm.group(2))
    managed_root = os.path.abspath(sess.base_dir)
    if not os.path.abspath(base.path).startswith(managed_root + os.sep):
        # same refusal as create_index(apply_layout=True): versioning an
        # EXTERNAL path would physically restructure (or crash on) data
        # the engine doesn't own
        raise ValueError(
            f"CREATE MATERIALIZED VIEW refused: base table "
            f"{sm.group(2)!r} is external ({base.path}); import it into "
            "the warehouse first"
        )
    base.enable_versioning()
    view = create_agg_view(
        sess, name, base,
        key_cols=key_cols, group_cols=group_cols, sum_cols=sum_cols,
    )
    return _status(
        sess, "CREATE MATERIALIZED VIEW", name, view.df().count()
    )


def _refresh(sess: DdlSession, sql: str) -> DataFrame:
    """REFRESH MATERIALIZED VIEW <name> — fold the base table's commits
    since the last sync into the stored view (ext/matview.AggView.refresh:
    one change-feed join + one view-sized merge, never a base rescan).
    Returns the refresh audit record."""
    m = re.match(rf"REFRESH\s+MATERIALIZED\s+VIEW\s+({_IDENT})$", sql, re.I)
    if not m:
        raise ValueError(f"Unsupported REFRESH statement: {sql[:80]}")
    from mesin_spark.ext.matview import open_agg_view_by_name

    st = open_agg_view_by_name(sess, m.group(1)).refresh()
    return local_frame(
        sess.spark,
        [(
            "REFRESH MATERIALIZED VIEW", m.group(1), st.delta_rows,
            st.groups_touched, st.from_version, st.to_version,
        )],
        "statement string, target string, delta_rows long, "
        "groups_touched long, from_version long, to_version long",
    )


def _optimize(sess: DdlSession, sql: str) -> DataFrame:
    """OPTIMIZE <table> [TARGET <n> MB] [SORT BY c1, c2, ...] — the
    small-file compaction statement (Delta OPTIMIZE analog; the
    reference plans no storage-maintenance statements at all). Routes to
    ManagedTable.compact(): contents unchanged, physical layout rewritten
    to ~target-sized files, range-clustered on the SORT BY prefix when
    given. On a versioned table the rewrite is a new commit, so it is
    time-travel-safe until VACUUM. rows_affected = new data-file count."""
    m = re.match(
        rf"OPTIMIZE\s+({_IDENT})"
        rf"(?:\s+TARGET\s+(\d+)\s*MB)?"
        rf"(?:\s+SORT\s+BY\s+(.+))?\s*$",
        sql,
        re.I,
    )
    if not m:
        raise ValueError(f"Cannot parse OPTIMIZE statement: {sql[:80]}")
    mt = sess.table(m.group(1))
    target = int(m.group(2)) if m.group(2) else 256
    sort_by = None
    if m.group(3):
        sort_by = [c.strip().strip('"').strip("`") for c in m.group(3).split(",")]
    n_files = mt.compact(target_file_mb=target, sort_by=sort_by)
    return _status(sess, "OPTIMIZE", m.group(1), n_files)


def _describe(sess: DdlSession, sql: str) -> DataFrame:
    """DESCRIBE HISTORY <table> — the commit audit log (version, op, ts,
    details) of a versioned managed table (Delta DESCRIBE HISTORY
    analog). Spark-native DESCRIBE forms never reach here (is_dml routes
    only the HISTORY form)."""
    m = re.match(rf"DESCRIBE\s+HISTORY\s+({_IDENT})\s*$", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse DESCRIBE statement: {sql[:80]}")
    return sess.table(m.group(1)).history()


def _show(sess: DdlSession, sql: str) -> DataFrame:
    """SHOW CREATE TABLE <t> — reconstruct executable DDL from the
    managed catalog's metadata (columns with types/nullability/defaults,
    table constraints verbatim, non-internal properties). Deterministic:
    ordering follows the recorded column/constraint order. Native SHOW
    forms never reach here (is_dml routes only CREATE TABLE)."""
    m = re.match(rf"SHOW\s+CREATE\s+TABLE\s+({_IDENT})\s*$", sql, re.I)
    if not m or m.group(1) not in sess.catalog.tables:
        # SHOW CREATE TABLE is ALSO a native Spark statement — qualified
        # names and tables outside the managed catalog keep Spark's own
        # behavior instead of erroring here
        return sess.spark.sql(sql)
    name = m.group(1)
    mt = sess.table(name)
    meta = sess.catalog.tables[name]
    cols = meta.properties.get("columns") or [
        # CTAS/imported tables record no DDL columns — fall back to the
        # live schema (driver-side metadata read)
        {
            "name": f.name,
            "data_type": f.dataType.simpleString().upper(),
            "nullable": f.nullable,
            "default": None,
            "primary_key": False,
        }
        for f in mt.df().schema.fields
    ]
    lines = []
    for c in cols:
        piece = f"    {c['name']} {c['data_type']}"
        if c.get("primary_key"):
            piece += " PRIMARY KEY"
        elif c.get("nullable") is False:
            piece += " NOT NULL"
        if c.get("default") is not None:
            # _column_def records the default as raw SQL literal TEXT
            # (quotes included for strings) — emit verbatim
            piece += f" DEFAULT {c['default']}"
        lines.append(piece)
    lines += [f"    {con['text']}" for con in meta.constraints or [] if con.get("text")]
    ddl = f"CREATE TABLE {name} (\n" + ",\n".join(lines) + "\n)"
    props = {
        k: v
        for k, v in (meta.properties or {}).items()
        if k not in ("columns", "stats_path", "stats_columns")
    }
    if props:
        kv = ", ".join(
            "'{}' = '{}'".format(
                str(k).replace("'", "''"), str(v).replace("'", "''")
            )
            for k, v in sorted(props.items())
        )
        ddl += f"\nPROPERTIES ({kv})"
    return local_frame(sess.spark, [(name, ddl)], "table string, create_stmt string")


def _restore(sess: DdlSession, sql: str) -> DataFrame:
    """RESTORE <table> TO VERSION <n> — rollback as an audited hard-link
    commit (ManagedTable.restore). rows_affected = the new version."""
    m = re.match(rf"RESTORE\s+({_IDENT})\s+TO\s+VERSION\s+(\d+)\s*$", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse RESTORE statement: {sql[:80]}")
    nxt = sess.table(m.group(1)).restore(int(m.group(2)))
    return _status(sess, "RESTORE", m.group(1), nxt)


def _vacuum(sess: DdlSession, sql: str) -> DataFrame:
    """VACUUM <table> [KEEP <n>] — drop all but the last n committed
    versions (default 1). rows_affected = versions removed."""
    m = re.match(rf"VACUUM\s+({_IDENT})(?:\s+KEEP\s+(\d+))?\s*$", sql, re.I)
    if not m:
        raise ValueError(f"Cannot parse VACUUM statement: {sql[:80]}")
    mt = sess.table(m.group(1))
    removed = mt.vacuum(keep_last=int(m.group(2)) if m.group(2) else 1)
    return _status(sess, "VACUUM", m.group(1), len(removed))


def _create(sess: DdlSession, sql: str) -> DataFrame:
    mvm = re.match(
        rf"CREATE\s+MATERIALIZED\s+VIEW\s+({_IDENT})\s+KEY\s*\(([^)]*)\)\s+AS\s+(.+)$",
        sql,
        re.I | re.S,
    )
    if mvm:
        return _create_matview(sess, sql, mvm)
    cm = re.match(
        rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+AS\s+", sql, re.I
    )
    if cm:
        src = sess.spark.sql(sql[cm.end() :])
        sess.create_table_as(cm.group(2), src, if_not_exists=cm.group(1) is not None)
        # count the materialized table, not the source query — a second
        # execution of the query doubles its cost and can disagree with
        # what was written (same policy as _copy)
        n = sess.table(cm.group(2)).df().count()
        return _status(sess, "CREATE TABLE AS", cm.group(2), n)
    tm = re.match(
        rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*\(", sql, re.I
    )
    if tm:
        if_not_exists = tm.group(1) is not None
        table = tm.group(2)
        body_open = tm.end() - 1
        body = sql[body_open:]
        close = next(
            i for i, ch, depth, q in _scan(body) if ch == ")" and depth == 0 and not q
        )
        inner = body[1:close]
        columns, constraints = [], []
        for item in _split_toplevel(inner):
            cm = _TABLE_CONSTRAINT_RE.match(item)
            if cm:
                constraints.append(
                    {"kind": cm.group(2).upper().replace(" ", "_"), "text": item}
                )
            else:
                columns.append(_column_def(item))
        sess.create_table(table, columns, constraints=constraints, if_not_exists=if_not_exists)
        return _status(sess, "CREATE TABLE", table, 0)
    im = re.match(
        rf"CREATE\s+(UNIQUE\s+)?INDEX\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})?\s*"
        rf"ON\s+({_IDENT})\s*\(([^)]*)\)",
        sql,
        re.I,
    )
    if im:
        unique, name, table = im.group(1) is not None, im.group(3), im.group(4)
        cols = [c.strip().strip('"') for c in im.group(5).split(",")]
        meta = sess.create_index(table, cols, name=name, unique=unique)
        return _status(sess, "CREATE INDEX", meta.name, 0)
    raise ValueError(f"Unsupported CREATE statement: {sql[:80]}")


def _drop(sess: DdlSession, sql: str) -> DataFrame:
    m = re.match(
        rf"DROP\s+(TABLE|INDEX)\s+(IF\s+EXISTS\s+)?(.+?)(\s+CASCADE)?\s*$",
        sql,
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"Cannot parse DROP statement: {sql[:80]}")
    kind = m.group(1).upper()
    if_exists = m.group(2) is not None
    names = [n.strip().strip('"') for n in m.group(3).split(",")]
    if kind == "TABLE":
        sess.drop_table(*names, if_exists=if_exists, cascade=m.group(4) is not None)
        return _status(sess, "DROP TABLE", ",".join(names), 0)
    for n in names:
        sess.drop_index(n, if_exists=if_exists)
    return _status(sess, "DROP INDEX", ",".join(names), 0)


def _alter(sess: DdlSession, sql: str) -> DataFrame:
    m = re.match(rf"ALTER\s+TABLE\s+({_IDENT})\s+(.*)$", sql, re.I | re.S)
    if not m:
        raise ValueError(f"Cannot parse ALTER statement: {sql[:80]}")
    table, action = m.group(1), m.group(2).strip()
    mt = sess.table(table)
    am = re.match(rf"ADD\s+(COLUMN\s+)?({_IDENT})\s+(\S+)(\s+DEFAULT\s+(.+))?$", action, re.I)
    if am:
        default = None
        if am.group(5):
            # evaluate the literal with Spark itself (same policy as VALUES)
            default = sess.spark.sql(f"SELECT {am.group(5).strip()}").collect()[0][0]
        mt.alter_add_column(am.group(2), am.group(3), default=default)
        return _status(sess, "ALTER TABLE ADD", table, 0)
    dm = re.match(rf"DROP\s+(COLUMN\s+)?({_IDENT})$", action, re.I)
    if dm:
        mt.alter_drop_column(dm.group(2))
        return _status(sess, "ALTER TABLE DROP", table, 0)
    rm = re.match(rf"RENAME\s+(COLUMN\s+)?({_IDENT})\s+TO\s+({_IDENT})$", action, re.I)
    if rm:
        mt.alter_rename_column(rm.group(2), rm.group(3))
        return _status(sess, "ALTER TABLE RENAME", table, 0)
    pm = re.match(r"SET\s+PROPERTIES\s*\(", action, re.I)
    if pm:
        # ALTER TABLE t SET PROPERTIES ('k' = 'v', ...) — catalog-entry
        # key/value metadata; 'enforce_constraints' = 'true' switches on
        # write-time constraint validation (ManagedTable.validate_constraints)
        open_at = pm.end() - 1
        seg = action[open_at:]
        close_rel = next(
            (i for i, ch, depth, q in _scan(seg) if ch == ")" and depth == 0 and not q),
            None,
        )
        if close_rel is None:
            raise ValueError(f"SET PROPERTIES has unbalanced parens: {action[:60]}")
        close = open_at + close_rel
        if action[close + 1 :].strip():
            raise ValueError(
                f"Unexpected text after SET PROPERTIES list: {action[close + 1 :][:40]!r}"
            )
        n_set = 0
        for pair in _split_toplevel(action[open_at + 1 : close]):
            km = re.match(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'$", pair)
            if not km:
                raise ValueError(
                    f"SET PROPERTIES expects 'key' = 'value' pairs; got {pair!r}"
                )
            key = km.group(1).replace("''", "'")
            sess.catalog.tables[table].properties[key] = km.group(2).replace("''", "'")
            n_set += 1
        return _status(sess, "ALTER TABLE SET", table, n_set)
    raise ValueError(f"Unsupported ALTER action: {action[:60]}")


def dispatch(sess: DdlSession, sql: str) -> DataFrame:
    """Route one DML/DDL statement (the reference dispatcher's non-Query
    arms, src/planner/mod.rs:21-38). Raises ValueError on anything it
    cannot parse — never silently falls back."""
    s = sql.strip().rstrip(";").strip()
    kw = s.split(None, 1)[0].upper()
    handler = {
        "INSERT": _insert,
        "UPDATE": _update,
        "DELETE": _delete,
        "CREATE": _create,
        "DROP": _drop,
        "ALTER": _alter,
        "MERGE": _merge,
        "TRUNCATE": _truncate,
        "ANALYZE": _analyze,
        "COPY": _copy,
        "REFRESH": _refresh,
        "OPTIMIZE": _optimize,
        "VACUUM": _vacuum,
        "DESCRIBE": _describe,
        "SHOW": _show,
        "RESTORE": _restore,
    }.get(kw)
    if handler is None:
        raise ValueError(f"Not a DML/DDL statement: {s[:60]}")
    return handler(sess, s)
