from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from mesin_spark.session import get_session

    s = get_session("mesin_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def force_edge_route(monkeypatch, pin: bool, broadcast: bool) -> list:
    """Force the graph tier's measured edge route (ext/measure.edge_route)
    through its module constants: ``pin`` the static edge frame or keep
    AQE rounds, ``broadcast`` the per-node vector or shuffle it. Returns
    the list each ``EdgeRoute.pin`` call appends its key to."""
    from mesin_spark.ext import measure

    monkeypatch.setattr(measure, "EDGE_PIN_MIN_BYTES", 0 if pin else float("inf"))
    monkeypatch.setattr(measure, "BROADCAST_MAX_NODES", 2**62 if broadcast else 0)
    keys = []
    real = measure.EdgeRoute.pin

    def pin_(self, frame, key):
        keys.append(key)
        return real(self, frame, key)

    monkeypatch.setattr(measure.EdgeRoute, "pin", pin_)
    return keys
