"""Typed table catalog over Parquet.

The reference keeps a name-only catalog — ``HashMap<String, Vec<String>>``
hardcoded with three tables (reference src/context.rs:17-34) — and planning
fails when a table is absent (reference tmp/select.rs:357-364: "does not
exist in database"). We reproduce the *behavior* (register-then-resolve,
error on unknown tables) but upgrade to real schemas sourced from Parquet
footers, registered as Spark temp views so ``spark.sql`` resolves them.

Index / constraint DDL in the reference is metadata-only (never executed:
reference tmp/crud.txt:312-347 builds a CreateIndex plan node and stops), so
indexes and constraints live here as catalog metadata. CREATE INDEX may
optionally be honored as *layout advice* (sort-within-partitions on the
indexed columns) — see :mod:`mesin_spark.dml`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: The driver-generated star schema + LLM-pipeline tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale factor.
#: (region=5 rows, nation=25 rows at every SF; supplier/part/customer grow
#: with SF but stay far below fact-table size — broadcast up to the
#: autoBroadcastJoinThreshold, which AQE also re-checks at runtime.)
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """A small driver-built result frame (status rows, plan text, audit
    records, empty typed tables) as an Arrow-backed LocalRelation:
    collecting it runs no Spark job, where ``createDataFrame(list)``
    plans a Python RDD and runs one. For engine-built rows only: user
    rows (``insert_values``) stay on the list path, which converts naive
    datetimes through local time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)


class CatalogError(ValueError):
    """Unknown table — mirrors the reference's planning error
    "Table '{name}' does not exist in database" (tmp/select.rs:357-364)."""


@dataclass
class IndexMeta:
    """CREATE INDEX metadata (reference logical_plan.rs:68-74): never a
    physical index — recorded, listable, droppable; optionally applied as
    sort-layout advice when the table is next written."""

    name: str
    table: str
    columns: list[str]
    unique: bool = False


@dataclass
class TableMeta:
    name: str
    path: str | None = None  # None for in-memory (createDataFrame) tables
    constraints: list[dict] = field(default_factory=list)
    properties: dict = field(default_factory=dict)


class Catalog:
    """Session-scoped table registry backed by Spark temp views."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, TableMeta] = {}
        self.indexes: dict[str, IndexMeta] = {}
        # table path -> ((data dir, file listing), frame read at that
        # listing); see ManagedTable.df. Session state, never saved.
        self.frames: dict[str, tuple[tuple, DataFrame]] = {}

    # -- registration ------------------------------------------------------
    def register_parquet(self, name: str, path: str) -> DataFrame:
        from mesin_spark.sources import read_parquet

        df = read_parquet(self.spark, path)
        df.createOrReplaceTempView(name)
        self.tables[name] = TableMeta(name=name, path=path)
        return df

    def register_dataframe(self, name: str, df: DataFrame, path: str | None = None) -> DataFrame:
        df.createOrReplaceTempView(name)
        self.tables[name] = TableMeta(name=name, path=path)
        return df

    def register_dir(self, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register every testdata table found in ``sf_dir``."""
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.register_parquet(t, p)

    def register_demo_catalog(self) -> None:
        """The reference's hardcoded three-table catalog
        (src/context.rs:19-34: users(id,name,email),
        orders(id,user_id,amount), products(id,name,price)) as empty typed
        tables — so the reference's own smoke query
        (``SELECT email, name FROM users``, src/main.rs:7) plans and runs
        here unchanged."""
        from pyspark.sql import types as Ty

        schemas = {
            "users": Ty.StructType(
                [
                    Ty.StructField("id", Ty.LongType()),
                    Ty.StructField("name", Ty.StringType()),
                    Ty.StructField("email", Ty.StringType()),
                ]
            ),
            "orders": Ty.StructType(
                [
                    Ty.StructField("id", Ty.LongType()),
                    Ty.StructField("user_id", Ty.LongType()),
                    Ty.StructField("amount", Ty.DoubleType()),
                ]
            ),
            "products": Ty.StructType(
                [
                    Ty.StructField("id", Ty.LongType()),
                    Ty.StructField("name", Ty.StringType()),
                    Ty.StructField("price", Ty.DoubleType()),
                ]
            ),
        }
        for name, schema in schemas.items():
            self.register_dataframe(name, local_frame(self.spark, [], schema))

    # -- resolution --------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise CatalogError(f"Table '{name}' does not exist in database")
        return self.spark.table(name)

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        if name not in self.tables:
            if if_exists:
                return
            raise CatalogError(f"Table '{name}' does not exist in database")
        self.spark.catalog.dropTempView(name)
        self.frames.pop(self.tables.pop(name).path, None)
        # cascade: drop indexes on the table (reference DROP TABLE has a
        # CASCADE flag, logical_plan.rs:75-79; indexes are our only dependents)
        for iname in [i for i, m in self.indexes.items() if m.table == name]:
            del self.indexes[iname]

    def __contains__(self, name: str) -> bool:
        return name in self.tables

    # -- persistence -------------------------------------------------------
    # Metastore-lite: table paths + constraints + index metadata as one
    # JSON document, so a warehouse outlives the Spark session (the
    # parquet data and version pointers are already on disk; this persists
    # the part that only lived in this dict). The write is single-commit
    # (temp + os.replace), same policy as ManagedTable._commit.

    CATALOG_FILE = "_catalog.json"

    def save(self, base_dir: str) -> str:
        import json
        import tempfile

        doc = {
            "tables": [
                {
                    "name": m.name,
                    "path": m.path,
                    "constraints": m.constraints,
                    "properties": m.properties,
                }
                for m in self.tables.values()
                if m.path is not None  # in-memory frames can't be reopened
            ],
            "indexes": [
                {
                    "name": i.name,
                    "table": i.table,
                    "columns": i.columns,
                    "unique": i.unique,
                }
                for i in self.indexes.values()
            ],
        }
        os.makedirs(base_dir, exist_ok=True)
        target = os.path.join(base_dir, self.CATALOG_FILE)
        fd, tmp = tempfile.mkstemp(dir=base_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, target)
        return target

    def load(self, base_dir: str) -> int:
        """Re-register every persisted table (skipping paths that no
        longer exist) and restore constraint/index metadata. Returns the
        number of tables restored."""
        import json

        with open(os.path.join(base_dir, self.CATALOG_FILE)) as f:
            doc = json.load(f)
        n = 0
        for t in doc["tables"]:
            if not os.path.exists(t["path"]):
                continue
            # versioned layout: df() reads through the version pointer,
            # and seeds self.frames for the table's first statement
            from mesin_spark.dml import ManagedTable

            mt = ManagedTable(self.spark, t["name"], t["path"], catalog=self)
            self.register_dataframe(t["name"], mt.df(), path=t["path"])
            meta = self.tables[t["name"]]
            meta.constraints = t.get("constraints", [])
            meta.properties = t.get("properties", {})
            n += 1
        for i in doc.get("indexes", []):
            if i["table"] in self.tables:
                self.indexes[i["name"]] = IndexMeta(
                    name=i["name"],
                    table=i["table"],
                    columns=i["columns"],
                    unique=i["unique"],
                )
        return n
