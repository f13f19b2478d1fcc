"""Per-query wall-time profile of the registry, in registration order.

The driver certifies queries under a wall-clock budget; this tool mirrors
its per-entry work (Spark toPandas + DuckDB oracle execution) and prints
cumulative time so we can see exactly where a budget of N seconds would
cut off, and which queries deserve a faster path.

Usage:
    python tools/time_queries.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from tools.verify_oracle import duck_connection  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from mesin_spark.session import get_session

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    t0 = time.monotonic()
    spark = get_session("time_queries")
    con = duck_connection(sf_dir)
    print(f"session up: {time.monotonic() - t0:.1f}s; {len(qs)} queries")

    rows = []
    cum = time.monotonic() - t0
    for i, name in enumerate(qs, 1):
        ts = time.monotonic()
        try:
            n = len(qs[name](spark, sf_dir).toPandas())
            spark_s = time.monotonic() - ts
            td = time.monotonic()
            if name in oracles:
                con.execute(oracles[name]).df()
            duck_s = time.monotonic() - td
            err = ""
        except Exception as e:  # noqa: BLE001
            spark_s, duck_s, n = time.monotonic() - ts, 0.0, -1
            err = f"{type(e).__name__}: {e}"
        cum += spark_s + duck_s
        rows.append((name, spark_s, duck_s, cum))
        print(
            f"{i:3d} {name:28s} spark={spark_s:6.2f}s duck={duck_s:5.2f}s "
            f"cum={cum:7.1f}s rows={n} {err[:80]}"
        )

    rows.sort(key=lambda r: -(r[1] + r[2]))
    print("\nslowest 15:")
    for name, s, d, _ in rows[:15]:
        print(f"  {name:28s} {s + d:6.2f}s (spark {s:.2f} + duck {d:.2f})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
