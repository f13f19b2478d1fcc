"""The benchmark's workloads: what runs, at which scale, in which order.

A workload is a *cycle*: a fixed multiset of operations whose order and
literals come from the seed. A run executes whole cycles, so every seed
does the same amount of each kind of work.

- ``sql_mixed``: SQL text through ``ExecutionContext.execute``, reads over
  the star schema and writes on a managed table created for the run.
- ``llm_dedup_sf0.01``: registry builders
  (``queries()[name](spark, sf_dir)``), each executed by one action.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: managed table the sql_mixed writes target; DuckDB replays the same DDL
MANAGED_TABLE = "mt_orders"
MANAGED_DDL = (
    f"CREATE TABLE {MANAGED_TABLE} (o_orderkey BIGINT, o_custkey BIGINT, "
    "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderpriority VARCHAR)"
)
MANAGED_LOAD = (
    f"INSERT INTO {MANAGED_TABLE} SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 4 = 0"
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass(frozen=True)
class Op:
    """One operation of a cycle.

    ``kind`` names the template (SQL) or the registry query; ``sql`` is the
    statement text for SQL ops, run unchanged by the engine and by DuckDB.
    """

    kind: str
    write: bool = False
    sql: str = ""


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the timed phase
    registry: tuple[str, ...] = ()  # registry ops; empty for sql_mixed

    def cycle(self, rng: random.Random) -> list[Op]:
        """One cycle of ops in seeded order."""
        if self.registry:
            ops = [Op(kind=q) for q in self.registry]
        else:
            ops = sql_cycle(rng)
        rng.shuffle(ops)
        return ops


WORKLOADS = {
    w.name: w
    for w in (
        Workload("sql_mixed", 0.01),
        Workload(
            "llm_dedup_sf0.01",
            0.01,
            (
                "q_dedup_minhash",
                "q_minhash_portable",
                "q_dedup_containment",
                "q_dedup_embed",
                "q_pagerank",
                "q_knn_join",
            ),
        ),
    )
}

#: registry ops across all workloads, in a fixed order (per-op metric names)
REGISTRY_OPS = tuple(q for w in WORKLOADS.values() for q in w.registry)


# -- sql_mixed ---------------------------------------------------------------
# Each read template covers one part of the reference's SELECT surface. The
# text is valid on both the engine (postgres dialect) and DuckDB, so the
# correctness check runs it verbatim. Comparisons use literals chosen so
# that no subquery is empty (the engine rewrites `> ALL` to a max()
# subquery, which differs from the standard only on an empty set).


def _read_templates(r: random.Random) -> dict[str, str]:
    seg = r.choice(_SEGMENTS)
    prio = r.choice(_PRIORITIES)
    q_lo = r.randint(1, 30)
    return {
        "filter_agg": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
            "avg(l_discount) AS disc FROM lineitem "
            f"WHERE l_quantity BETWEEN {q_lo} AND {q_lo + 20} "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "join3": (
            "SELECT n.n_name, count(*) AS n_orders, sum(o.o_totalprice) AS revenue "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_orderpriority = '{prio}' GROUP BY n.n_name"
        ),
        "join4": (
            "SELECT p.p_type, n.n_regionkey, count(*) AS n, sum(l.l_extendedprice) AS rev "
            "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            f"WHERE p.p_size < {r.randint(5, 40)} GROUP BY p.p_type, n.n_regionkey"
        ),
        "join6_comma": (
            "SELECT r.r_name, count(*) AS n, "
            "sum(l.l_extendedprice * (1 - l.l_discount)) AS rev "
            "FROM lineitem l, orders o, customer c, nation n, region r, supplier s "
            "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
            "AND c.c_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey "
            "AND l.l_suppkey = s.s_suppkey AND s.s_nationkey < c.c_nationkey "
            f"AND l.l_discount >= {r.randint(0, 8) / 100} GROUP BY r.r_name"
        ),
        "cte_having": (
            "WITH big AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM orders GROUP BY o_custkey HAVING count(*) >= {r.randint(8, 14)}) "
            "SELECT c.c_mktsegment, count(*) AS customers, sum(big.total) AS total "
            "FROM big JOIN customer c ON c.c_custkey = big.o_custkey "
            "GROUP BY c.c_mktsegment"
        ),
        "in_subquery": (
            "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_custkey IN "
            f"(SELECT c_custkey FROM customer WHERE c_acctbal > {r.randint(0, 8000)} "
            f"AND c_mktsegment = '{seg}') GROUP BY o_orderpriority"
        ),
        "scalar_subquery": (
            "SELECT count(*) AS n, sum(l_extendedprice) AS total FROM lineitem "
            "WHERE l_extendedprice > (SELECT avg(l_extendedprice) * "
            f"{r.choice([1.0, 1.25, 1.5, 1.75])} FROM lineitem "
            f"WHERE l_returnflag = '{r.choice('ANR')}')"
        ),
        "order_limit": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderstatus = '{r.choice('FOP')}' "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {r.randint(10, 50)}"
        ),
        "window_qualify": (
            "SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER "
            "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk "
            f"FROM customer WHERE c_mktsegment = '{seg}' QUALIFY rk <= {r.randint(2, 5)}"
        ),
        "window_lag": (
            "SELECT event_type, count(*) AS n, avg(gap) AS avg_gap FROM "
            "(SELECT event_type, value - lag(value) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS gap FROM events "
            f"WHERE user_id < {r.randint(200, 1500)}) t "
            "WHERE gap IS NOT NULL GROUP BY event_type"
        ),
        "dialect_pg": (
            'SELECT o.o_orderstatus AS "status", count(*) AS n FROM orders o '
            "WHERE floor(o.o_totalprice)::BIGINT > ALL (SELECT floor(s_acctbal)::BIGINT * "
            f"{r.randint(10, 30)} FROM supplier WHERE s_suppkey < {r.randint(10, 60)}) "
            "GROUP BY o.o_orderstatus"
        ),
        "managed_read": (
            "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
            f"sum(o_totalprice) AS total FROM {MANAGED_TABLE} "
            "GROUP BY o_orderstatus, o_orderpriority"
        ),
    }


#: statements per cycle: every read template once, these a second time
#: (with fresh literals), and six writes, so a quarter are writes
REPEATED_READS = (
    "filter_agg",
    "join3",
    "in_subquery",
    "scalar_subquery",
    "order_limit",
    "managed_read",
)
WRITE_KINDS = ("insert", "insert", "update", "update", "delete", "delete")


def _write(kind: str, r: random.Random) -> str:
    if kind == "insert":
        return (
            f"INSERT INTO {MANAGED_TABLE} SELECT o_orderkey, o_custkey, o_orderstatus, "
            f"o_totalprice, o_orderpriority FROM orders "
            f"WHERE o_orderkey % 97 = {r.randint(0, 96)}"
        )
    if kind == "update":
        return (
            f"UPDATE {MANAGED_TABLE} SET o_totalprice = o_totalprice + "
            f"{r.randint(1, 99)}.25, o_orderpriority = '{r.choice(_PRIORITIES)}' "
            f"WHERE o_custkey % 53 = {r.randint(0, 52)}"
        )
    return f"DELETE FROM {MANAGED_TABLE} WHERE o_orderkey % 89 = {r.randint(0, 88)}"


def sql_cycle(rng: random.Random) -> list[Op]:
    """18 reads and 6 writes."""
    ops = [Op(kind=k, sql=q) for k, q in _read_templates(rng).items()]
    again = _read_templates(rng)
    ops += [Op(kind=k, sql=again[k]) for k in REPEATED_READS]
    ops += [Op(kind=k, write=True, sql=_write(k, rng)) for k in WRITE_KINDS]
    return ops
