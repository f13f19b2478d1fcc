"""Dump .explain("formatted") for headline (and named extra) queries into
plans/<round>/<query>_<tag>.txt — an optimization round's plan evidence.

Usage: python tools/dump_round_plans.py <round> <tag> [query ...]
       e.g. python tools/dump_round_plans.py r13 after q_dedup_minhash
       (no query args = the full bench HEADLINE list)
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from mesin_spark.session import get_session  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_name, tag = sys.argv[1], sys.argv[2]
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_session("dump_round_plans")
    registry = entrymod.queries()
    out_dir = os.path.join(REPO_ROOT, "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = registry[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain formatted @ {sf_dir} ({tag})\n")
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
