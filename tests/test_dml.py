"""ALTER TABLE schema evolution on the managed-parquet tier (extension —
the reference rejects ALTER outright, src/planner/mod.rs:36)."""

from __future__ import annotations

import os
import tempfile

import pytest

from mesin_spark.catalog import CatalogError
from mesin_spark.dml import DdlSession
from tests.conftest import SF_DIR


@pytest.fixture()
def mt(spark):
    base = tempfile.mkdtemp(prefix="mesin_alter_")
    sess = DdlSession(spark, base_dir=base)
    return sess.import_parquet("alter_t", os.path.join(SF_DIR, "region.parquet"))


def test_alter_add_column_backfills_default(spark, mt):
    before = mt.df().count()
    mt.alter_add_column("tier", "VARCHAR", default="bronze")
    rows = mt.df().collect()
    assert len(rows) == before
    assert all(r.tier == "bronze" for r in rows)
    mt.alter_add_column("score", "DOUBLE")  # no default -> NULL
    assert all(r.score is None for r in mt.df().collect())


def test_alter_rename_and_drop(spark, mt):
    mt.alter_rename_column("r_name", "region_name")
    cols = mt.df().columns
    assert "region_name" in cols and "r_name" not in cols
    mt.alter_drop_column("region_name")
    assert "region_name" not in mt.df().columns


def test_alter_missing_column_raises(spark, mt):
    with pytest.raises(CatalogError, match="does not exist"):
        mt.alter_drop_column("nope")
    with pytest.raises(CatalogError, match="does not exist"):
        mt.alter_rename_column("nope", "x")


def test_alter_then_update_uses_new_schema(spark, mt):
    mt.alter_add_column("flag", "BOOLEAN", default=False)
    mt.update({"flag": "r_regionkey > 2"})
    got = {r.r_regionkey: r.flag for r in mt.df().collect()}
    assert got == {k: k > 2 for k in got}


# -- round-2 review-fix regressions ----------------------------------------


def test_alter_add_existing_column_errors(spark, tmp_path):
    from mesin_spark.dml import CatalogError, DdlSession

    sess = DdlSession(spark, base_dir=str(tmp_path))
    from mesin_spark.dml import ColumnDefinition as CD

    t = sess.create_table("aae_t", [CD("a", "BIGINT"), CD("p", "DOUBLE")])
    t.insert_values([(1, 2.5)])
    import pytest

    with pytest.raises(CatalogError, match="already exists"):
        t.alter_add_column("p", "DOUBLE", default=0.0)
    assert t.df().collect()[0]["p"] == 2.5  # data intact


def test_merge_duplicate_source_keys_error(spark, tmp_path):
    from mesin_spark.dml import DdlSession

    sess = DdlSession(spark, base_dir=str(tmp_path))
    from mesin_spark.dml import ColumnDefinition as CD

    t = sess.create_table("mdk_t", [CD("k", "BIGINT"), CD("v", "BIGINT")])
    t.insert_values([(1, 10)])
    src = spark.createDataFrame([(1, 1), (1, 2)], "k BIGINT, v BIGINT")
    import pytest

    with pytest.raises(ValueError, match="multiple rows"):
        t.merge(src, on=["k"])
    assert t.df().count() == 1  # target untouched


def test_insert_select_arity_errors(spark, tmp_path):
    from mesin_spark.dml import DdlSession

    sess = DdlSession(spark, base_dir=str(tmp_path))
    from mesin_spark.dml import ColumnDefinition as CD

    t = sess.create_table("ia_t", [CD("a", "BIGINT"), CD("b", "BIGINT"), CD("c", "BIGINT")])
    import pytest

    with pytest.raises(ValueError, match="columns"):
        t.insert_select(spark.createDataFrame([(1, 2)], "x BIGINT, y BIGINT"))


def test_insert_values_typo_column_errors(spark, tmp_path):
    from mesin_spark.dml import DdlSession

    sess = DdlSession(spark, base_dir=str(tmp_path))
    from mesin_spark.dml import ColumnDefinition as CD

    t = sess.create_table("iv_t", [CD("id", "BIGINT"), CD("name", "STRING")])
    import pytest

    with pytest.raises(ValueError, match="not in table schema"):
        t.insert_values([(1, "x")], columns=["id", "nmae"])
    with pytest.raises(ValueError, match="values"):
        t.insert_values([(1, "x", "extra")], columns=["id", "name"])


def test_external_table_layout_rewrite_refused(spark, tmp_path):
    """No write rewrites data the engine doesn't own (externally
    registered parquet, a single file or a directory): each is refused
    with CatalogError before anything on disk is touched."""
    import shutil

    import pytest

    from mesin_spark.context import ExecutionContext
    from mesin_spark.dml import CatalogError, DdlSession

    ext = str(tmp_path / "external_data")
    spark.range(0, 100).selectExpr("id AS k").write.parquet(ext)
    sess = DdlSession(spark, base_dir=str(tmp_path / "warehouse"))
    sess.catalog.register_parquet("ext_t", ext)
    with pytest.raises(CatalogError, match="external"):
        sess.create_index("ext_t", ["k"], apply_layout=True)
    assert spark.read.parquet(ext).count() == 100  # untouched

    def tree(root):
        return sorted(
            (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)))
            for d, _dirs, fs in os.walk(root)
            for f in fs
        )

    ext_file = str(tmp_path / "ext_file" / "nation.parquet")
    os.makedirs(os.path.dirname(ext_file))
    shutil.copy(os.path.join(SF_DIR, "nation.parquet"), ext_file)
    ext_dir = str(tmp_path / "ext_dir" / "nation")
    spark.read.parquet(ext_file).repartition(2).write.parquet(ext_dir)
    ctx = ExecutionContext(spark=spark)
    ctx.ddl.base_dir = str(tmp_path / "warehouse2")
    for name, path in (("ext_nf", ext_file), ("ext_nd", ext_dir)):
        ctx.register_parquet(name, path)
        # the parent holds only the table path, so its tree also shows any
        # sibling a write would leave behind: a swapped-out copy, a temp
        # dir or the writer lock
        parent = os.path.dirname(path)
        before, n = tree(parent), spark.read.parquet(path).count()
        for sql in (
            f"UPDATE {name} SET n_name = 'X' WHERE n_nationkey = 1",
            f"DELETE FROM {name} WHERE n_nationkey = 1",
            f"INSERT INTO {name} VALUES (99, 'X', 0)",
            f"MERGE INTO {name} USING (SELECT n_nationkey, 'X' AS n_name, n_regionkey"
            f" FROM {name} WHERE n_nationkey = 1) AS s ON {name}.n_nationkey = s.n_nationkey"
            " WHEN MATCHED THEN UPDATE SET n_name = s.n_name",
            f"TRUNCATE TABLE {name}",
            f"ALTER TABLE {name} ADD COLUMN note STRING",
            f"OPTIMIZE {name}",
        ):
            with pytest.raises(CatalogError, match="external"):
                ctx.execute(sql)
            assert tree(parent) == before, sql
        assert os.listdir(parent) == [os.path.basename(path)]
        assert spark.read.parquet(path).count() == n


def test_older_flat_table_is_read_only_until_imported(spark, tmp_path):
    """A flat table directory of an older build (no _VERSION pointer)
    reads as before and refuses writes; import_parquet under its own name
    converts it in place into version 1."""
    sess = DdlSession(spark, base_dir=str(tmp_path))
    path = str(tmp_path / "old_t")
    spark.range(0, 10).selectExpr("id AS k").write.parquet(path)
    sess.catalog.register_parquet("old_t", path)
    assert sess.table("old_t").df().count() == 10
    with pytest.raises(CatalogError, match="external"):
        sess.table("old_t").delete("k < 5")
    mt = sess.import_parquet("old_t", path)
    assert [(r.version, r.op) for r in mt.history().collect()] == [(1, "CONVERT")]
    mt.delete("k < 5")
    assert mt.df().count() == 5 and mt.time_travel(1).count() == 10
    assert os.listdir(tmp_path) == ["old_t"]


def test_versioned_append_keeps_partitioned_data(spark, tmp_path):
    """Appending to a VERSIONED table whose data lives in hive partition
    subdirectories must carry the old rows into the new version."""
    from mesin_spark.dml import DdlSession

    src = str(tmp_path / "src")
    spark.range(0, 100).selectExpr("id AS k", "id % 4 AS p").write.partitionBy(
        "p"
    ).parquet(src)
    sess = DdlSession(spark, base_dir=str(tmp_path / "wh"))
    t = sess.import_parquet("vp_t", src)
    t.insert_values([(1000, 9)], columns=["k", "p"])
    assert t.df().count() == 101


def test_decimal_single_precision(spark):
    from mesin_spark.dml import ddl_type

    dt = ddl_type("DECIMAL(20)")
    assert dt.precision == 20 and dt.scale == 0
    dt2 = ddl_type("DECIMAL(12, 3)")
    assert dt2.precision == 12 and dt2.scale == 3
