"""SQL-statement surface of ExecutionContext.execute — the reference's
full dispatcher (src/planner/mod.rs:21-38: Query + Insert + Update +
Delete + CreateTable + CreateIndex + Drop) driven end-to-end through
actual SQL strings, which the reference itself can only pretty-print."""

from __future__ import annotations

import os

import pytest

from mesin_spark.context import ExecutionContext


@pytest.fixture()
def ctx(spark, tmp_path):
    from mesin_spark.dml import DdlSession

    c = ExecutionContext(spark=spark)
    c._ddl = DdlSession(spark, catalog=c.catalog, base_dir=str(tmp_path))
    return c


def test_create_insert_select_roundtrip(ctx):
    ctx.execute(
        """CREATE TABLE people (
            id BIGINT PRIMARY KEY,
            name STRING NOT NULL,
            balance DOUBLE DEFAULT 0.0
        )"""
    )
    st = ctx.execute(
        "INSERT INTO people VALUES (1, 'ada', 10.5), (2, 'o''brien, jr', 2.0)"
    ).collect()[0]
    assert (st["statement"], st["rows_affected"]) == ("INSERT", 2)
    rows = {r["id"]: r for r in ctx.execute("SELECT * FROM people").collect()}
    assert rows[2]["name"] == "o'brien, jr"  # quote escape + comma in string
    assert rows[1]["balance"] == 10.5


def test_insert_column_list_fills_nulls(ctx):
    ctx.execute("CREATE TABLE t1 (a BIGINT, b STRING, c DOUBLE)")
    ctx.execute("INSERT INTO t1 (c, a) VALUES (1.5, 7)")
    r = ctx.execute("SELECT * FROM t1").collect()[0]
    assert (r["a"], r["b"], r["c"]) == (7, None, 1.5)


def test_insert_select_statement(ctx):
    ctx.execute("CREATE TABLE src (a BIGINT, b STRING)")
    ctx.execute("INSERT INTO src VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    ctx.execute("CREATE TABLE dst (a BIGINT, b STRING)")
    st = ctx.execute("INSERT INTO dst SELECT a, b FROM src WHERE a >= 2").collect()[0]
    assert st["rows_affected"] == 2
    assert ctx.execute("SELECT count(*) AS n FROM dst").collect()[0]["n"] == 2


def test_update_pre_image_semantics_swap(ctx):
    ctx.execute("CREATE TABLE sw (k BIGINT, a BIGINT, b BIGINT)")
    ctx.execute("INSERT INTO sw VALUES (1, 10, 20)")
    ctx.execute("UPDATE sw SET a = b, b = a")
    r = ctx.execute("SELECT * FROM sw").collect()[0]
    assert (r["a"], r["b"]) == (20, 10)  # both RHS saw the PRE-update row


def test_update_where_and_affected_count(ctx):
    ctx.execute("CREATE TABLE u (id BIGINT, v BIGINT)")
    ctx.execute("INSERT INTO u VALUES (1, 1), (2, 2), (3, 3)")
    st = ctx.execute("UPDATE u SET v = v * 10 WHERE id IN (2, 3)").collect()[0]
    assert st["rows_affected"] == 2
    vals = {r["id"]: r["v"] for r in ctx.execute("SELECT * FROM u").collect()}
    assert vals == {1: 1, 2: 20, 3: 30}


def test_delete_where_and_full(ctx):
    ctx.execute("CREATE TABLE d (id BIGINT)")
    ctx.execute("INSERT INTO d VALUES (1), (2), (3)")
    assert ctx.execute("DELETE FROM d WHERE id = 2").collect()[0]["rows_affected"] == 1
    assert ctx.execute("DELETE FROM d").collect()[0]["rows_affected"] == 2
    assert ctx.execute("SELECT count(*) AS n FROM d").collect()[0]["n"] == 0


def test_create_index_drop_cascade(ctx):
    ctx.execute("CREATE TABLE ix (a BIGINT, b BIGINT)")
    st = ctx.execute("CREATE INDEX ON ix (a, b)").collect()[0]
    assert st["target"] == "idx_ix_a_b"  # auto-name (tmp/crud.txt:312-347)
    with pytest.raises(Exception, match="dependent indexes"):
        ctx.execute("DROP TABLE ix")
    ctx.execute("DROP TABLE ix CASCADE")
    with pytest.raises(Exception, match="does not exist"):
        ctx.execute("DROP TABLE ix")
    ctx.execute("DROP TABLE IF EXISTS ix")  # no error


def test_unique_named_index_and_drop_index(ctx):
    ctx.execute("CREATE TABLE iq (a BIGINT)")
    ctx.execute("CREATE UNIQUE INDEX my_idx ON iq (a)")
    assert "my_idx" in ctx.catalog.indexes
    assert ctx.catalog.indexes["my_idx"].unique
    ctx.execute("DROP INDEX my_idx")
    assert "my_idx" not in ctx.catalog.indexes


def test_alter_table_add_rename_drop(ctx):
    ctx.execute("CREATE TABLE al (a BIGINT)")
    ctx.execute("INSERT INTO al VALUES (1)")
    ctx.execute("ALTER TABLE al ADD COLUMN note STRING DEFAULT 'n/a'")
    assert ctx.execute("SELECT note FROM al").collect()[0]["note"] == "n/a"
    ctx.execute("ALTER TABLE al RENAME COLUMN note TO remark")
    ctx.execute("ALTER TABLE al DROP COLUMN remark")
    assert ctx.execute("SELECT * FROM al").columns == ["a"]


def test_table_level_constraints_recorded(ctx):
    ctx.execute(
        """CREATE TABLE tc (
            a BIGINT,
            b BIGINT,
            PRIMARY KEY (a),
            UNIQUE (b),
            CHECK (b > 0)
        )"""
    )
    kinds = {c["kind"] for c in ctx.catalog.tables["tc"].constraints}
    assert {"PRIMARY_KEY", "UNIQUE", "CHECK"} <= kinds


def test_create_view_stays_on_spark_path(ctx, spark):
    ctx.execute("CREATE TABLE vsrc (a BIGINT)")
    ctx.execute("INSERT INTO vsrc VALUES (5)")
    ctx.execute("CREATE OR REPLACE TEMP VIEW v_over AS SELECT a * 2 AS a2 FROM vsrc")
    assert ctx.execute("SELECT a2 FROM v_over").collect()[0]["a2"] == 10


def test_values_with_semicolon_and_parens_inside_string(ctx):
    ctx.execute("CREATE TABLE s (t STRING)")
    ctx.execute("INSERT INTO s VALUES ('a;b)(, ''c'' d')")
    assert ctx.execute("SELECT t FROM s").collect()[0]["t"] == "a;b)(, 'c' d"


def test_create_table_if_not_exists_and_duplicate_error(ctx):
    ctx.execute("CREATE TABLE dup (a BIGINT)")
    with pytest.raises(Exception, match="already exists"):
        ctx.execute("CREATE TABLE dup (a BIGINT)")
    ctx.execute("CREATE TABLE IF NOT EXISTS dup (a BIGINT)")  # no error


def test_decimal_type_survives_parse(ctx):
    ctx.execute("CREATE TABLE dec (a DECIMAL(10,2), b BIGINT)")
    ctx.execute("INSERT INTO dec VALUES (CAST(1.25 AS DECIMAL(10,2)), 3)")
    r = ctx.execute("SELECT * FROM dec").collect()[0]
    assert float(r["a"]) == 1.25 and r["b"] == 3


def test_adversarial_string_roundtrip_one_insert(ctx):
    """Eight adversarial strings (quotes, doubled quotes, keywords,
    separators, unicode) round-trip byte-exact through one INSERT — the
    scanner must not mis-cut at anything inside a literal."""
    tricky = [
        "it's",
        "''",
        "a,b),(c",
        "WHERE 1=1; DROP TABLE x",
        'double " quote',
        "ünïcødé — em—dash",
        "  leading and trailing  ",
        "VALUES (1,2),(3,4)",
    ]
    ctx.execute("CREATE TABLE adv (i BIGINT, t STRING)")
    lits = ", ".join(
        f"({i}, '" + s.replace("'", "''") + "')" for i, s in enumerate(tricky)
    )
    st = ctx.execute(f"INSERT INTO adv VALUES {lits}").collect()[0]
    assert st["rows_affected"] == len(tricky)
    got = {
        r["i"]: r["t"] for r in ctx.execute("SELECT i, t FROM adv").collect()
    }
    assert got == dict(enumerate(tricky))


def test_ctas_and_truncate(ctx):
    ctx.execute("CREATE TABLE base (a BIGINT, b STRING)")
    ctx.execute("INSERT INTO base VALUES (1, 'x'), (2, 'y')")
    st = ctx.execute("CREATE TABLE copy AS SELECT a * 10 AS a10, b FROM base").collect()[0]
    assert st["rows_affected"] == 2
    rows = {r["a10"]: r["b"] for r in ctx.execute("SELECT * FROM copy").collect()}
    assert rows == {10: "x", 20: "y"}
    assert ctx.execute("TRUNCATE TABLE copy").collect()[0]["rows_affected"] == 2
    assert ctx.execute("SELECT count(*) AS n FROM copy").collect()[0]["n"] == 0


def test_merge_upsert_statement(ctx):
    ctx.execute("CREATE TABLE tgt (k BIGINT, v STRING)")
    ctx.execute("INSERT INTO tgt VALUES (1, 'old1'), (2, 'old2')")
    ctx.execute(
        """MERGE INTO tgt USING (
               SELECT * FROM (VALUES (2, 'new2'), (3, 'new3')) AS s(k, v)
           ) AS s ON tgt.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
    )
    rows = {r["k"]: r["v"] for r in ctx.execute("SELECT * FROM tgt").collect()}
    assert rows == {1: "old1", 2: "new2", 3: "new3"}


def test_merge_matched_delete(ctx):
    ctx.execute("CREATE TABLE md (k BIGINT, v BIGINT)")
    ctx.execute("INSERT INTO md VALUES (1, 1), (2, 2), (3, 3)")
    ctx.execute(
        """MERGE INTO md USING (
               SELECT * FROM (VALUES (2, 0)) AS s(k, v)
           ) ON md.k = s.k
           WHEN MATCHED THEN DELETE"""
    )
    assert sorted(r["k"] for r in ctx.execute("SELECT * FROM md").collect()) == [1, 3]


def test_warehouse_survives_session_reopen(spark, tmp_path):
    """save_catalog + DdlSession.open: tables (at their committed
    version), constraints, and index metadata all come back; data edits
    made before the save are visible after reopen."""
    from mesin_spark.dml import DdlSession

    wh = str(tmp_path / "wh")
    c1 = ExecutionContext(spark=spark)
    c1._ddl = DdlSession(spark, catalog=c1.catalog, base_dir=wh)
    c1.execute("CREATE TABLE persisted (k BIGINT PRIMARY KEY, v STRING)")
    c1.execute("INSERT INTO persisted VALUES (1, 'a'), (2, 'b')")
    c1.execute("UPDATE persisted SET v = 'z' WHERE k = 2")
    c1.execute("CREATE UNIQUE INDEX pk_like ON persisted (k)")
    c1.ddl.save_catalog()

    sess2 = DdlSession.open(spark, wh)
    assert "persisted" in sess2.catalog
    rows = {r["k"]: r["v"] for r in sess2.table("persisted").df().collect()}
    assert rows == {1: "a", 2: "z"}
    assert sess2.catalog.indexes["pk_like"].unique
    cols = sess2.catalog.tables["persisted"].properties["columns"]
    assert any(c["name"] == "k" and c.get("primary_key") for c in cols)


def test_execute_script_returns_per_statement_frames(ctx):
    frames = ctx.execute_script(
        """CREATE TABLE sc (a BIGINT);
           INSERT INTO sc VALUES (1), (2);
           SELECT sum(a) AS s FROM sc"""
    )
    assert len(frames) == 3
    assert frames[1].collect()[0]["rows_affected"] == 2
    assert frames[2].collect()[0]["s"] == 3


def test_scanner_units():
    """Pure-text edge cases for the statement scanner: keywords inside
    literals and parens must not cut; doubled-quote escapes honored."""
    from mesin_spark.sql_dml import _column_def, is_dml
    from mesin_spark.sqltext import find_keyword as _find_keyword, split as _split_toplevel

    assert _find_keyword("a = 'no WHERE here' WHERE b = 1", "WHERE") == 20
    assert _find_keyword("x IN (SELECT 1 WHERE true)", "WHERE") == -1  # in parens
    assert _find_keyword("nowhere = 1", "WHERE") == -1  # word boundary
    assert _find_keyword("a = 'it''s WHERE' WHERE b", "WHERE") == 18  # '' escape
    assert _find_keyword("a = 'it\\'s WHERE' WHERE b", "WHERE") == 18  # \\' escape
    assert _find_keyword("a = 1 -- no WHERE\n WHERE b", "WHERE") == 19  # comment
    assert _find_keyword("a = 1 /* WHERE */ WHERE b", "WHERE") == 18
    assert _split_toplevel("a, f(b, c), 'x,y', (d, e)") == [
        "a",
        "f(b, c)",
        "'x,y'",
        "(d, e)",
    ]
    # a backticked name may hold commas (CREATE TABLE m (k INT, `a,b` INT))
    assert _split_toplevel("k INT, `a,b` INT, s STRING") == ["k INT", "`a,b` INT", "s STRING"]
    assert _column_def("`a,b` INT").name == "a,b"
    assert is_dml("INSERT INTO t VALUES (1)")
    assert is_dml("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE")
    assert not is_dml("SELECT 1")
    assert not is_dml("CREATE OR REPLACE TEMP VIEW v AS SELECT 1")
    assert not is_dml("CREATE GLOBAL TEMPORARY VIEW v AS SELECT 1")
    assert not is_dml("WITH c AS (SELECT 1) SELECT * FROM c")


# -- property tests (hypothesis) -------------------------------------------

from hypothesis import given, settings, strategies as st

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
_quoted = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters=""),
    max_size=12,
).map(lambda s: "'" + s.replace("\\", "\\\\").replace("'", "''") + "'")
# backslashes double: the scanner follows Spark's default parser, where
# backslash escapes inside string literals ('\' alone is unterminated)
_backslashed = st.text(alphabet=",;()'\\ab", max_size=8).map(
    lambda s: "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
)
_backticked = st.text(alphabet=",;()`'ab", min_size=1, max_size=8).map(
    lambda s: "`" + s.replace("`", "``") + "`"
)
_paren = st.tuples(_ident, _ident).map(lambda t: f"({t[0]}, {t[1]})")
_atom = st.one_of(_ident, _quoted, _backslashed, _backticked, _paren)


@settings(max_examples=200, deadline=None)
@given(st.lists(_atom, min_size=1, max_size=6))
def test_split_toplevel_roundtrips_atoms(atoms):
    """Joining atoms (identifiers, ''- and backslash-escaped quoted strings
    with arbitrary content, backticked names, paren groups) with top-level
    commas and splitting again recovers exactly the atoms — commas/parens
    INSIDE atoms never cut."""
    from mesin_spark.sqltext import split as _split_toplevel

    assert _split_toplevel(", ".join(atoms)) == atoms


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(
        ["INT", "integer", "BigInt", "double", "VARCHAR(40)", "Decimal(12,3)",
         "numeric(5,2)", "text", "boolean", "DATE", "timestamp", "string"]
    )
)
def test_ddl_type_total_over_menu(name):
    """ddl_type resolves every supported spelling case-insensitively,
    keeping DECIMAL precision/scale."""
    from pyspark.sql import types as Ty

    from mesin_spark.dml import ddl_type

    t = ddl_type(name)
    assert isinstance(t, Ty.DataType)
    if name.lower().startswith(("decimal", "numeric")):
        assert isinstance(t, Ty.DecimalType)
        assert (t.precision, t.scale) == ((12, 3) if "12" in name else (5, 2))


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=2**50), st.sampled_from(["B", "KiB", "MiB", "GiB"]))
def test_parse_bytes_inverts_fmt(n, unit):
    """shuffle_audit's byte parser inverts its formatter to within
    rounding (the formatter keeps one decimal)."""
    from tools.shuffle_audit import _UNITS, fmt, parse_bytes

    got = parse_bytes(f"{n / _UNITS[unit.upper()]:,.1f} {unit}")
    assert abs(got - n) <= 0.05 * _UNITS[unit.upper()] + 1


# -- round-2 review-fix regressions ----------------------------------------


def _fresh_ctx(spark, tmp_path):
    from mesin_spark.context import ExecutionContext

    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = str(tmp_path)
    return ctx


def test_merge_insert_only_keeps_matched_rows(spark, tmp_path):
    """Insert-only MERGE must leave matched target rows UNCHANGED (old
    bug: defaulted to update-all and overwrote them with source values)."""
    ctx = _fresh_ctx(spark, tmp_path)
    ctx.execute("CREATE TABLE mio_t (k BIGINT, v STRING)")
    ctx.execute("INSERT INTO mio_t VALUES (1, 'keep'), (2, 'keep2')")
    ctx.execute(
        "MERGE INTO mio_t USING (SELECT * FROM (VALUES (2, 'CLOBBER'), (3, 'new')) "
        "AS s(k, v)) AS s ON mio_t.k = s.k WHEN NOT MATCHED THEN INSERT"
    )
    rows = {r["k"]: r["v"] for r in ctx.execute("SELECT * FROM mio_t").collect()}
    assert rows == {1: "keep", 2: "keep2", 3: "new"}, rows


def test_merge_case_when_inside_update_set(spark, tmp_path):
    """CASE WHEN inside UPDATE SET must not shatter the WHEN-clause split."""
    ctx = _fresh_ctx(spark, tmp_path)
    ctx.execute("CREATE TABLE mcw_t (k BIGINT, v BIGINT)")
    ctx.execute("INSERT INTO mcw_t VALUES (1, 10), (2, 20)")
    ctx.execute(
        "MERGE INTO mcw_t USING (SELECT * FROM (VALUES (1, 5), (3, 7)) AS s(k, v)) "
        "AS s ON mcw_t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.v > 0 THEN s.v ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT"
    )
    rows = {r["k"]: r["v"] for r in ctx.execute("SELECT * FROM mcw_t").collect()}
    assert rows == {1: 5, 2: 20, 3: 7}, rows


def test_merge_transforming_insert_errors(spark, tmp_path):
    """A VALUES transform in MERGE INSERT must raise, not be silently
    dropped."""
    import pytest

    ctx = _fresh_ctx(spark, tmp_path)
    ctx.execute("CREATE TABLE mti_t (k BIGINT, v STRING)")
    with pytest.raises(ValueError, match="identity"):
        ctx.execute(
            "MERGE INTO mti_t USING (SELECT * FROM (VALUES (1, 'x')) AS s(k, v)) "
            "AS s ON mti_t.k = s.k WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, UPPER(s.v))"
        )


def test_insert_quoted_column_list(spark, tmp_path):
    """Quoted (→ backticked) column names in an INSERT list must match
    the schema (old bug: every column silently inserted NULL)."""
    ctx = _fresh_ctx(spark, tmp_path)
    ctx.execute("CREATE TABLE qcl_t (a BIGINT, b STRING)")
    ctx.execute('INSERT INTO qcl_t ("a", "b") VALUES (7, \'x\')')
    rows = ctx.execute("SELECT * FROM qcl_t").collect()
    assert (rows[0]["a"], rows[0]["b"]) == (7, "x")


def test_insert_arity_mismatch_errors(spark, tmp_path):
    """INSERT without a column list and too few values must raise, not
    silently append a narrower parquet file."""
    import pytest

    ctx = _fresh_ctx(spark, tmp_path)
    ctx.execute("CREATE TABLE ari_t (a BIGINT, b STRING)")
    with pytest.raises(ValueError, match="column"):
        ctx.execute("INSERT INTO ari_t VALUES (1)")


def test_quantified_unknown_combo_no_keyerror(spark, tmp_path):
    """= ALL has no sound rewrite: it must surface Spark's parse error
    (documented contract), never a KeyError from the scanner."""
    import pytest

    ctx = _fresh_ctx(spark, tmp_path)
    spark.createDataFrame([(1,)], "x BIGINT").createOrReplaceTempView("qq_t")
    with pytest.raises(Exception) as ei:
        ctx.execute("SELECT * FROM qq_t WHERE x = ALL (SELECT x FROM qq_t)")
    assert not isinstance(ei.value, KeyError)


def test_escaped_quote_statement_split(spark, tmp_path):
    """A ';' inside a backslash-escaped string literal must not split
    the statement."""
    ctx = _fresh_ctx(spark, tmp_path)
    out = ctx.execute(r"SELECT 'don\'t; oops' AS s").collect()
    assert out[0]["s"] == "don't; oops"


def test_materialized_view_statement_roundtrip(ctx):
    """CREATE MATERIALIZED VIEW ... KEY (...) AS SELECT / REFRESH
    MATERIALIZED VIEW as statements: the view materializes the canonical
    (_rows / sum_<col>) schema, a later INSERT + REFRESH folds only the
    delta, and the refreshed view equals a from-scratch GROUP BY."""
    ctx.execute("CREATE TABLE sales (id BIGINT, region STRING, amt BIGINT)")
    ctx.execute(
        "INSERT INTO sales VALUES (1,'eu',10),(2,'eu',20),(3,'us',5)"
    )
    st = ctx.execute(
        "CREATE MATERIALIZED VIEW sales_by_region KEY (id) AS"
        " SELECT region, COUNT(*) AS n, SUM(amt) AS total"
        " FROM sales GROUP BY region"
    ).collect()[0]
    assert st["statement"] == "CREATE MATERIALIZED VIEW"
    assert st["rows_affected"] == 2  # two regions materialized
    ctx.execute("INSERT INTO sales VALUES (4,'us',7),(5,'apac',1)")
    r = ctx.execute("REFRESH MATERIALIZED VIEW sales_by_region").collect()[0]
    assert r["delta_rows"] == 2 and r["groups_touched"] == 2
    got = {
        (row["region"], row["_rows"], row["sum_amt"])
        for row in ctx.execute("SELECT * FROM sales_by_region").collect()
    }
    assert got == {("eu", 2, 30), ("us", 2, 12), ("apac", 1, 1)}
    # idle refresh is a no-op audit row
    r2 = ctx.execute("REFRESH MATERIALIZED VIEW sales_by_region").collect()[0]
    assert r2["delta_rows"] == 0 and r2["from_version"] == r2["to_version"]


def test_materialized_view_statement_rejects_bad_forms(ctx):
    ctx.execute("CREATE TABLE mv_src (id BIGINT, g STRING, v BIGINT)")
    with pytest.raises(ValueError, match="COUNT"):
        ctx.execute(
            "CREATE MATERIALIZED VIEW mv_bad KEY (id) AS"
            " SELECT g, SUM(v) FROM mv_src GROUP BY g"
        )
    with pytest.raises(ValueError, match="unsupported materialized-view"):
        ctx.execute(
            "CREATE MATERIALIZED VIEW mv_bad KEY (id) AS"
            " SELECT g, COUNT(*), MAX(v) FROM mv_src GROUP BY g"
        )
    with pytest.raises(ValueError, match="GROUP BY list"):
        ctx.execute(
            "CREATE MATERIALIZED VIEW mv_bad KEY (id) AS"
            " SELECT g, COUNT(*) FROM mv_src GROUP BY id"
        )
    with pytest.raises(ValueError, match="KEY"):
        ctx.execute(
            "CREATE MATERIALIZED VIEW mv_bad KEY () AS"
            " SELECT g, COUNT(*) FROM mv_src GROUP BY g"
        )


def test_refresh_table_stays_native(ctx):
    """Spark's own REFRESH TABLE statement must keep falling through to
    spark.sql — only REFRESH MATERIALIZED VIEW routes to the DML tier."""
    ctx.execute("CREATE TABLE rt_t (id BIGINT)")
    # the managed table registers a temp view; native REFRESH TABLE on it
    # must execute without the DML router rejecting it
    ctx.execute("REFRESH TABLE rt_t")


def test_materialized_view_refuses_external_base(ctx, tmp_path):
    """CREATE MATERIALIZED VIEW must refuse a register_parquet'd external
    path — the engine never writes data it does not own."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    # outside the session's managed base_dir (tmp_path IS the base_dir
    # in this fixture)
    ext = os.path.join(tempfile.mkdtemp(prefix="mesin_ext_"), "external_events.parquet")
    pq.write_table(pa.table({"id": [1, 2], "g": ["a", "b"], "v": [1, 2]}), ext)
    ctx.register_parquet("ext_ev", ext)
    with pytest.raises(ValueError, match="external"):
        ctx.execute(
            "CREATE MATERIALIZED VIEW ext_mv KEY (id) AS"
            " SELECT g, COUNT(*) FROM ext_ev GROUP BY g"
        )


def test_refresh_mv_on_plain_table_clean_error(ctx):
    from mesin_spark.catalog import CatalogError

    ctx.execute("CREATE TABLE plain_t (id BIGINT)")
    with pytest.raises(CatalogError, match="not a materialized view"):
        ctx.execute("REFRESH MATERIALIZED VIEW plain_t")


# -- OPTIMIZE / VACUUM ------------------------------------------------------


def _data_files(root):
    return sorted(
        os.path.join(dp, f)
        for dp, _dirs, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def _frag_table(ctx, spark, name, n_files=12):
    df = spark.range(0, 5000).selectExpr(
        "id AS k", "id % 7 AS grp", "CAST(id AS DOUBLE) * 1.5 AS v"
    )
    mt = ctx.ddl.create_table_as(name, df.repartition(n_files))
    return mt


def test_optimize_statement_compacts_and_versions(ctx, spark):
    mt = _frag_table(ctx, spark, "opt1")
    before = _data_files(mt._data_dir())
    assert len(before) >= 12
    st = ctx.execute("OPTIMIZE opt1 TARGET 256 MB").collect()[0]
    assert st["statement"] == "OPTIMIZE"
    assert st["rows_affected"] == 1  # 5000 tiny rows << 256 MB
    assert mt.current_version() == 2
    assert len(_data_files(mt._data_dir())) == 1
    # contents identical, fragmented version still time-travelable
    cur = ctx.execute("SELECT count(*) AS n, sum(k) AS s FROM opt1").collect()[0]
    assert (cur["n"], cur["s"]) == (5000, 5000 * 4999 // 2)
    old = mt.time_travel(1)
    assert old.count() == 5000


def test_optimize_sort_by_range_clusters_files(ctx, spark):
    from pyspark.sql import functions as F

    mt = _frag_table(ctx, spark, "opt2", n_files=16)
    ctx.execute("OPTIMIZE opt2 SORT BY k")
    assert len(_data_files(mt._data_dir())) == 1  # tiny table -> one sorted file
    # force a multi-file range layout to check the clustering invariant
    big = spark.range(0, 200_000).selectExpr(
        "id AS k", "repeat(uuid(), 2) AS payload"
    )
    mt2 = ctx.ddl.create_table_as("opt2b", big.repartition(16))
    mt2.compact(target_file_mb=1, sort_by=["k"])
    files = _data_files(mt2._data_dir())
    assert len(files) > 1
    spans = []
    for f in files:
        mm = spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        spans.append((mm[0], mm[1]))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # non-overlapping key ranges -> zone maps prune


def test_vacuum_statement_drops_old_versions(ctx, spark):
    mt = _frag_table(ctx, spark, "opt3")
    ctx.execute("OPTIMIZE opt3")
    st = ctx.execute("VACUUM opt3 KEEP 1").collect()[0]
    assert (st["statement"], st["rows_affected"]) == ("VACUUM", 1)
    import pytest as _pytest

    from mesin_spark.catalog import CatalogError

    with _pytest.raises(CatalogError):
        mt.time_travel(1)
    assert ctx.execute("SELECT count(*) AS n FROM opt3").collect()[0]["n"] == 5000


def test_compact_flat_layout_preserves_contents(ctx, spark):
    mt = _frag_table(ctx, spark, "opt4", n_files=10)
    assert mt.current_version() == 1  # versioned from CREATE
    before = len(_data_files(mt._data_dir()))
    n = mt.compact(target_file_mb=256)
    assert n == 1 and before >= 10
    assert len(_data_files(mt._data_dir())) == 1
    got = mt.df().agg({"k": "sum"}).collect()[0][0]
    assert got == 5000 * 4999 // 2


def test_compact_partitioned_layout_one_file_per_partition(ctx, spark):
    df = spark.range(0, 2000).selectExpr("id AS k", "id % 4 AS part", "id * 2 AS v")
    src = os.path.join(ctx.ddl.base_dir, "opt5_src")
    df.repartition(8).write.partitionBy("part").mode("overwrite").parquet(src)
    mt = ctx.ddl.import_parquet("opt5", src)
    assert len(_data_files(mt._data_dir())) > 4
    mt.compact(target_file_mb=256)
    files = _data_files(mt._data_dir())
    by_part = {}
    for f in files:
        part = [p for p in f.split(os.sep) if p.startswith("part=")][0]
        by_part.setdefault(part, []).append(f)
    assert len(by_part) == 4
    assert all(len(v) == 1 for v in by_part.values())
    assert spark.read.parquet(mt._data_dir()).count() == 2000


def test_describe_history_records_commit_lifecycle(ctx, spark):
    mt = _frag_table(ctx, spark, "hist1", n_files=4)
    ctx.execute("INSERT INTO hist1 VALUES (99999, 3, 1.0)")
    ctx.execute("UPDATE hist1 SET v = 0.0 WHERE k = 1")
    ctx.execute("DELETE FROM hist1 WHERE k = 2")
    ctx.execute("OPTIMIZE hist1")
    ctx.execute("VACUUM hist1 KEEP 2")
    hist = ctx.execute("DESCRIBE HISTORY hist1").collect()
    seq = [(r["version"], r["op"]) for r in hist]
    assert seq == [
        (1, "CREATE"), (2, "INSERT"), (3, "UPDATE"),
        (4, "DELETE"), (5, "OPTIMIZE"), (5, "VACUUM"),
    ]
    # ts monotone non-decreasing; VACUUM details carry the removed list
    tss = [r["ts"] for r in hist]
    assert tss == sorted(tss)
    import json as _json

    details = _json.loads(hist[-1]["details"])
    assert details["removed"] == [1, 2, 3]


def test_describe_history_requires_versioned_table(ctx, spark, tmp_path):
    ext = str(tmp_path / "ext" / "hist2")
    spark.range(0, 100).selectExpr("id AS k").repartition(2).write.parquet(ext)
    ctx.register_parquet("hist2", ext)
    from mesin_spark.catalog import CatalogError

    with pytest.raises(CatalogError):
        ctx.execute("DESCRIBE HISTORY hist2")


def test_native_describe_still_routes_to_spark(ctx, spark):
    spark.range(3).createOrReplaceTempView("plainview")
    rows = ctx.execute("DESCRIBE plainview").collect()
    assert any(r[0] == "id" for r in rows)


# -- constraint enforcement (opt-in) ---------------------------------------


@pytest.fixture()
def enforced(ctx):
    ctx.execute("CREATE TABLE parent (pk BIGINT PRIMARY KEY)")
    ctx.execute("INSERT INTO parent VALUES (1), (2)")
    ctx.execute(
        """CREATE TABLE child (
            id BIGINT,
            ref BIGINT,
            amt DOUBLE,
            PRIMARY KEY (id),
            CHECK (amt > 0),
            FOREIGN KEY (ref) REFERENCES parent (pk)
        )"""
    )
    ctx.execute("ALTER TABLE child SET PROPERTIES ('enforce_constraints' = 'true')")
    return ctx


def test_constraints_not_enforced_by_default(ctx):
    ctx.execute("CREATE TABLE lax (id BIGINT, PRIMARY KEY (id))")
    ctx.execute("INSERT INTO lax VALUES (1), (1)")  # no error: metadata-only
    assert ctx.execute("SELECT count(*) AS n FROM lax").collect()[0]["n"] == 2


def test_enforced_insert_accepts_and_rejects(enforced):
    from mesin_spark.dml import ConstraintViolation

    ctx = enforced
    ctx.execute("INSERT INTO child VALUES (1, 1, 5.0)")
    with pytest.raises(ConstraintViolation, match="PRIMARY KEY"):
        ctx.execute("INSERT INTO child VALUES (1, 2, 3.0)")  # dup vs table
    with pytest.raises(ConstraintViolation, match="PRIMARY KEY"):
        ctx.execute("INSERT INTO child VALUES (5, 1, 1.0), (5, 1, 1.0)")  # intra-batch
    with pytest.raises(ConstraintViolation, match="CHECK"):
        ctx.execute("INSERT INTO child VALUES (2, 2, -1.0)")
    with pytest.raises(ConstraintViolation, match="CHECK"):  # comment first: still routed here
        ctx.execute("-- load\nINSERT INTO child VALUES (2, 2, -1.0)")
    with pytest.raises(ConstraintViolation, match="FOREIGN KEY"):
        ctx.execute("INSERT INTO child VALUES (3, 9, 1.0)")
    with pytest.raises(ConstraintViolation, match="NOT NULL"):
        ctx.execute("INSERT INTO child VALUES (NULL, 1, 1.0)")
    # SQL semantics: NULL FK passes (MATCH SIMPLE), NULL CHECK is unknown -> passes
    ctx.execute("INSERT INTO child VALUES (4, NULL, NULL)")
    assert ctx.execute("SELECT count(*) AS n FROM child").collect()[0]["n"] == 2
    # every rejected write left the table untouched
    ids = {r["id"] for r in ctx.execute("SELECT id FROM child").collect()}
    assert ids == {1, 4}


def test_enforced_update_rejects_key_collision(enforced):
    from mesin_spark.dml import ConstraintViolation

    ctx = enforced
    ctx.execute("INSERT INTO child VALUES (1, 1, 5.0), (2, 2, 6.0)")
    with pytest.raises(ConstraintViolation, match="PRIMARY KEY"):
        ctx.execute("UPDATE child SET id = 2 WHERE id = 1")
    with pytest.raises(ConstraintViolation, match="CHECK"):
        ctx.execute("UPDATE child SET amt = -5.0 WHERE id = 2")
    vals = {r["id"]: r["amt"] for r in ctx.execute("SELECT id, amt FROM child").collect()}
    assert vals == {1: 5.0, 2: 6.0}  # both rejected rewrites rolled back


def test_self_referential_fk_validates_against_post_image(ctx):
    """Self-FK under UPDATE must check child refs against the POST-image
    parent keys: a statement rewriting parent keys and refs together is
    legal; one that orphans existing children is not. Under INSERT the
    batch may reference keys introduced by the same atomic insert."""
    from mesin_spark.dml import ConstraintViolation

    ctx.execute(
        """CREATE TABLE emp (
            id BIGINT PRIMARY KEY,
            mgr BIGINT,
            FOREIGN KEY (mgr) REFERENCES emp (id)
        )"""
    )
    ctx.execute("ALTER TABLE emp SET PROPERTIES ('enforce_constraints' = 'true')")
    # one batch where a row references another row of the SAME batch
    ctx.execute("INSERT INTO emp VALUES (1, NULL), (2, 1)")
    # rewrite parent keys and child refs together: legal post-image
    ctx.execute("UPDATE emp SET id = id + 10, mgr = mgr + 10")
    vals = {r["id"]: r["mgr"] for r in ctx.execute("SELECT id, mgr FROM emp").collect()}
    assert vals == {11: None, 12: 11}
    # renaming only the parent key orphans the child: must reject
    with pytest.raises(ConstraintViolation, match="FOREIGN KEY"):
        ctx.execute("UPDATE emp SET id = 99 WHERE id = 11")
    # and an insert referencing a key absent from both table and batch
    with pytest.raises(ConstraintViolation, match="FOREIGN KEY"):
        ctx.execute("INSERT INTO emp VALUES (20, 777)")


def test_unique_allows_multiple_nulls(ctx):
    from mesin_spark.dml import ConstraintViolation

    ctx.execute("CREATE TABLE uq (id BIGINT, u STRING, UNIQUE (u))")
    ctx.execute("ALTER TABLE uq SET PROPERTIES ('enforce_constraints' = 'true')")
    ctx.execute("INSERT INTO uq VALUES (1, NULL), (2, NULL), (3, 'x')")
    with pytest.raises(ConstraintViolation, match="UNIQUE"):
        ctx.execute("INSERT INTO uq VALUES (4, 'x')")
    assert ctx.execute("SELECT count(*) AS n FROM uq").collect()[0]["n"] == 3


def test_check_constraint_body_with_quoted_paren(ctx):
    """A CHECK body is cut at its closing paren in code, not at a ')'
    inside a string literal."""
    from mesin_spark.dml import ConstraintViolation

    ctx.execute("CREATE TABLE ckq (k INT, s STRING, CHECK (s <> ')'))")
    ctx.execute("ALTER TABLE ckq SET PROPERTIES ('enforce_constraints' = 'true')")
    ctx.execute("INSERT INTO ckq VALUES (1, 'ok')")
    with pytest.raises(ConstraintViolation, match="CHECK"):
        ctx.execute("INSERT INTO ckq VALUES (2, ')')")
    assert [tuple(r) for r in ctx.execute("SELECT k, s FROM ckq").collect()] == [(1, "ok")]


def test_show_create_table_roundtrips(ctx):
    ctx.execute(
        """CREATE TABLE sct (
            id BIGINT PRIMARY KEY,
            name STRING NOT NULL,
            bal DOUBLE DEFAULT 0.0,
            CHECK (bal >= 0)
        )"""
    )
    ctx.execute("ALTER TABLE sct SET PROPERTIES ('enforce_constraints' = 'true')")
    r = ctx.execute("SHOW CREATE TABLE sct").collect()[0]
    ddl = r["create_stmt"]
    assert "id BIGINT PRIMARY KEY" in ddl
    assert "name STRING NOT NULL" in ddl
    assert "bal DOUBLE DEFAULT 0.0" in ddl
    assert "CHECK (bal >= 0)" in ddl
    assert "'enforce_constraints' = 'true'" in ddl
    # the reconstructed DDL must be executable (round-trip into a new session)
    from mesin_spark.dml import DdlSession

    sess2 = DdlSession(ctx.spark)
    import mesin_spark.sql_dml as S

    S.dispatch(sess2, ddl.replace("TABLE sct", "TABLE sct2").split("\nPROPERTIES")[0])
    assert {c["name"] for c in sess2.catalog.tables["sct2"].properties["columns"]} == {
        "id", "name", "bal",
    }


def test_show_tables_stays_native(ctx, spark):
    spark.range(1).createOrReplaceTempView("nativevis")
    names = {r[1] for r in ctx.execute("SHOW TABLES").collect()}
    assert "nativevis" in names


def test_optimize_rejects_nonpositive_target(ctx, spark):
    mt = _frag_table(ctx, spark, "opt0", n_files=2)
    with pytest.raises(ValueError, match="positive"):
        ctx.execute("OPTIMIZE opt0 TARGET 0 MB")


def test_show_create_falls_through_to_spark_for_non_managed(ctx, spark):
    from pyspark.errors import AnalysisException

    spark.range(2).createOrReplaceTempView("native_v")
    # not in the managed catalog -> Spark's own SHOW CREATE TABLE semantics
    # (temp views raise Spark's error, not our CatalogError/ValueError)
    with pytest.raises(AnalysisException):
        ctx.execute("SHOW CREATE TABLE native_v").collect()


def test_show_create_redoubles_quotes_in_properties(ctx):
    ctx.execute("CREATE TABLE qp (a BIGINT)")
    ctx.execute("ALTER TABLE qp SET PROPERTIES ('note' = 'it''s fine')")
    ddl = ctx.execute("SHOW CREATE TABLE qp").collect()[0]["create_stmt"]
    assert "'note' = 'it''s fine'" in ddl


def test_set_properties_parse_errors(ctx):
    ctx.execute("CREATE TABLE pe (a BIGINT)")
    with pytest.raises(ValueError, match="unbalanced"):
        ctx.execute("ALTER TABLE pe SET PROPERTIES ('a' = 'b'")
    with pytest.raises(ValueError, match="Unexpected text"):
        ctx.execute("ALTER TABLE pe SET PROPERTIES ('a' = 'b') trailing")


def test_compact_partitioned_with_sort_keeps_one_file_per_partition(ctx, spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).selectExpr("id AS k", "id % 3 AS part", "id * 7 % 11 AS v")
    src = os.path.join(ctx.ddl.base_dir, "opt6_src")
    df.repartition(8).write.partitionBy("part").mode("overwrite").parquet(src)
    mt = ctx.ddl.import_parquet("opt6", src)
    mt.compact(target_file_mb=256, sort_by=["v"])
    files = _data_files(mt._data_dir())
    by_part = {}
    for f in files:
        p = [x for x in f.split(os.sep) if x.startswith("part=")][0]
        by_part.setdefault(p, []).append(f)
    assert len(by_part) == 3 and all(len(v) == 1 for v in by_part.values())
    # rows inside each file are sorted by v
    for flist in by_part.values():
        vs = [r["v"] for r in spark.read.parquet(flist[0]).select("v").collect()]
        assert vs == sorted(vs)
    assert spark.read.parquet(mt._data_dir()).count() == 2000


def test_restore_statement_rolls_back_preserving_history(ctx, spark):
    import json as _json

    mt = _frag_table(ctx, spark, "rst", n_files=2)
    ctx.execute("DELETE FROM rst WHERE k >= 2500")          # v2
    ctx.execute("INSERT INTO rst VALUES (99999, 0, 0.0)")   # v3
    st = ctx.execute("RESTORE rst TO VERSION 1").collect()[0]
    assert (st["statement"], st["rows_affected"]) == ("RESTORE", 4)
    assert ctx.execute("SELECT count(*) AS n FROM rst").collect()[0]["n"] == 5000
    assert ctx.execute("SELECT max(k) AS m FROM rst").collect()[0]["m"] == 4999
    # bad versions remain time-travelable; the restore is audited
    assert mt.time_travel(3).count() == 2501
    hist = ctx.execute("DESCRIBE HISTORY rst").collect()
    last = hist[-1]
    assert last["op"] == "RESTORE" and last["version"] == 4
    assert _json.loads(last["details"])["restored_from"] == 1
    # restoring a vacuumed version errors cleanly
    ctx.execute("VACUUM rst KEEP 1")
    from mesin_spark.catalog import CatalogError

    with pytest.raises(CatalogError, match="vacuumed"):
        ctx.execute("RESTORE rst TO VERSION 2")


def test_orphan_version_dir_from_crashed_writer_is_cleared(ctx, spark):
    mt = _frag_table(ctx, spark, "orph", n_files=2)
    # simulate a writer that crashed after creating v00002 but before the
    # pointer commit: the orphan must not brick subsequent writes
    orphan = os.path.join(mt.path, "v00002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    ctx.execute("INSERT INTO orph VALUES (77777, 1, 1.0)")
    assert mt.current_version() == 2
    assert ctx.execute("SELECT count(*) AS n FROM orph").collect()[0]["n"] == 5001
    # RESTORE over an orphan likewise recovers
    os.makedirs(os.path.join(mt.path, "v00003"))
    ctx.execute("RESTORE orph TO VERSION 1")
    assert ctx.execute("SELECT count(*) AS n FROM orph").collect()[0]["n"] == 5000


# -- driver-built result frames and committed-version frame reuse ----------


def _jobs_to_collect(spark, df):
    """Spark jobs started by ``df.collect()``, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"collect-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dml_and_explain_result_frames_start_no_job(ctx, spark):
    ctx.execute("CREATE TABLE rf (k BIGINT, v DOUBLE, s STRING)")
    frames = {
        "INSERT": ctx.execute("INSERT INTO rf VALUES (1, 1.0, 'a'), (2, NULL, NULL)"),
        "UPDATE": ctx.execute("UPDATE rf SET v = 5.0 WHERE k = 2"),
        "DELETE": ctx.execute("DELETE FROM rf WHERE k = 1"),
        "MERGE": ctx.execute(
            "MERGE INTO rf USING (SELECT * FROM VALUES (2, 7.0, 'b') AS s(k, v, s))"
            " AS s ON rf.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"
        ),
        "EXPLAIN": ctx.execute("EXPLAIN SELECT * FROM rf"),
    }
    assert {k: _jobs_to_collect(spark, f) for k, f in frames.items()} == dict.fromkeys(frames, 0)
    status = spark.createDataFrame([], "statement string, target string, rows_affected long")
    for stmt, n in (("INSERT", 2), ("UPDATE", 1), ("DELETE", 1), ("MERGE", 1)):
        assert frames[stmt].schema == status.schema
        assert [tuple(r) for r in frames[stmt].collect()] == [(stmt, "rf", n)]
    assert frames["EXPLAIN"].schema == spark.createDataFrame([], "plan string").schema
    assert "rf" in frames["EXPLAIN"].collect()[0]["plan"].lower()


_LOCAL_FRAME_CASES = {
    "status": ("statement string, target string, rows_affected long", [("INSERT", "t", 3)]),
    "analyze": (
        "col STRING, n BIGINT, n_null BIGINT, ndv BIGINT, min_v DOUBLE, max_v DOUBLE",
        [("a", 3, 1, 2, -1.5, 2.25)],
    ),
    "refresh": (
        "statement string, target string, delta_rows long, "
        "groups_touched long, from_version long, to_version long",
        [("REFRESH MATERIALIZED VIEW", "mv", 2, 1, 3, 4)],
    ),
    "show_create": ("table string, create_stmt string", [("t", "CREATE TABLE t (\n    k BIGINT\n)")]),
    "explain": ("plan string", [("== Physical Plan ==\n*(1) Scan",)]),
    "history": ("version BIGINT, op STRING, ts DOUBLE, details STRING", [(1, "CONVERT", 1.7e9, '{"a": 1}')]),
}


@pytest.mark.parametrize("site", sorted(_LOCAL_FRAME_CASES))
def test_local_frame_matches_list_frame(spark, site):
    """Each converted site's schema and rows equal the createDataFrame(list)
    frame it replaced, with a row of NULLs in every column."""
    from mesin_spark.catalog import local_frame

    ddl, rows = _LOCAL_FRAME_CASES[site]
    rows = rows + [(None,) * len(rows[0])]
    got, ref = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_empty_local_frames_match_list_frames(spark, tmp_path):
    """CREATE TABLE's empty frame and the demo catalog's: same schema, and
    CREATE TABLE's parquet reads back with the same schema."""
    from pyspark.sql import types as Ty

    from mesin_spark.catalog import Catalog, local_frame
    from mesin_spark.dml import ColumnDefinition

    cols = [
        ColumnDefinition("id", "BIGINT", primary_key=True),
        ColumnDefinition("name", "VARCHAR(20)", nullable=False),
    ] + [
        ColumnDefinition(f"c{i}", t)
        for i, t in enumerate(
            ["INT", "FLOAT", "DOUBLE", "BOOLEAN", "DATE", "TIMESTAMP", "DECIMAL(10,2)"]
        )
    ]
    schema = Ty.StructType([c.to_field() for c in cols])
    got, ref = local_frame(spark, [], schema), spark.createDataFrame([], schema)
    assert got.schema == ref.schema
    got.write.parquet(str(tmp_path / "got"))
    ref.write.parquet(str(tmp_path / "ref"))
    read = spark.read.parquet
    assert read(str(tmp_path / "got")).schema == read(str(tmp_path / "ref")).schema
    demo = Catalog(spark)
    demo.register_demo_catalog()
    users = demo.table("users")
    assert users.schema == spark.createDataFrame([], "id long, name string, email string").schema
    assert _jobs_to_collect(spark, users) == 0 and users.collect() == []


def _reads(monkeypatch):
    """Count sources.read_parquet calls (ManagedTable.df imports it per call)."""
    from mesin_spark import sources

    calls = []
    orig = sources.read_parquet

    def counting(spark, path):
        calls.append(path)
        return orig(spark, path)

    monkeypatch.setattr(sources, "read_parquet", counting)
    return calls


def _contents(ctx):
    return sorted(tuple(r) for r in ctx.execute("SELECT * FROM t").collect())


def test_self_referencing_dml_reuses_committed_frame(ctx, monkeypatch):
    """Statements whose source reads the target itself: the same
    rows_affected and contents as reading the table afresh, and each
    statement, the first after CREATE TABLE included, reads the table
    once, after its commit."""
    ctx.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    calls = _reads(monkeypatch)
    ctx.execute("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    assert len(calls) == 1
    mt = ctx.ddl.table("t")
    cases = [
        ("INSERT INTO t SELECT * FROM t", 3,
         [(1, 10), (1, 10), (2, 20), (2, 20), (3, 30), (3, 30)]),
        ("UPDATE t SET v = v + 1 WHERE k IN (SELECT k FROM t WHERE v >= 20)", 4,
         [(1, 10), (1, 10), (2, 21), (2, 21), (3, 31), (3, 31)]),
        ("DELETE FROM t WHERE k IN (SELECT k FROM t WHERE v = 10)", 2,
         [(2, 21), (2, 21), (3, 31), (3, 31)]),
        ("MERGE INTO t USING (SELECT DISTINCT k, v * 10 AS v FROM t WHERE k = 2) AS s"
         " ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v", 1,
         [(2, 210), (2, 210), (3, 31), (3, 31)]),
    ]
    for sql, n, rows in cases:
        before = len(calls)
        assert ctx.execute(sql).collect()[0]["rows_affected"] == n, sql
        assert len(calls) - before == 1, sql
        assert _contents(ctx) == rows, sql
        assert sorted(tuple(r) for r in mt.df().collect()) == rows, sql
    assert mt.current_version() == 6  # CREATE, INSERT and the four cases


@pytest.mark.parametrize("how", ["ctas", "reopen"])
def test_first_statement_after_ctas_or_reopen_reads_once(ctx, spark, monkeypatch, how):
    """CREATE TABLE AS SELECT and DdlSession.open keep the frame they
    register the table with, so the table's first statement reads it
    once, after its commit."""
    from mesin_spark.dml import DdlSession

    ctx.execute("CREATE TABLE s (k BIGINT, v BIGINT)")
    ctx.execute("INSERT INTO s VALUES (1, 10), (2, 20)")
    if how == "ctas":
        mt = ctx.ddl.create_table_as("t", ctx.execute("SELECT * FROM s"))
    else:
        ctx.ddl.save_catalog()
        mt = DdlSession.open(spark, ctx.ddl.base_dir).table("s")
    calls = _reads(monkeypatch)
    mt.update({"v": "v + 1"}, "k = 1")
    assert len(calls) == 1
    assert sorted(tuple(r) for r in mt.df().collect()) == [(1, 11), (2, 20)]
    assert len(calls) == 1


def test_frame_reuse_sees_outside_writes(ctx, spark):
    """A write through a second DdlSession on the same base dir, or a file
    dropped into the table dir, is seen by the next statement; and
    save_catalog + DdlSession.open round-trips the catalog unchanged."""
    import json
    import shutil

    from mesin_spark.dml import DdlSession

    ctx.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    ctx.execute("INSERT INTO t VALUES (1, 10), (2, 20)")
    mt = ctx.ddl.table("t")
    assert mt.df().count() == 2
    saved = ctx.ddl.save_catalog()
    with open(saved) as f:
        doc = json.load(f)
    other = DdlSession.open(spark, ctx.ddl.base_dir)
    other.table("t").insert_values([(3, 30)])
    assert ctx.execute("UPDATE t SET v = 0 WHERE k > 0").collect()[0]["rows_affected"] == 3
    assert _contents(ctx) == [(1, 0), (2, 0), (3, 0)]
    data_dir = mt._data_dir()
    part = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(data_dir, part), os.path.join(data_dir, "part-99999-extra.parquet"))
    extra = spark.read.parquet(os.path.join(data_dir, part)).count()
    assert mt.df().count() == 3 + extra
    assert ctx.execute("DELETE FROM t").collect()[0]["rows_affected"] == 3 + extra
    assert _contents(ctx) == []
    # the saved catalog holds no frames: reopening and saving again
    # writes the same document
    reopened = DdlSession.open(spark, ctx.ddl.base_dir)
    with open(reopened.save_catalog()) as f:
        assert json.load(f) == doc
