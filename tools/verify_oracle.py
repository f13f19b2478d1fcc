"""Local mirror of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle at a given
sf_dir, then compares: row count, column names (sorted), and exact values
(columns sorted by name, rows sorted by all columns). Exact-match here is
strictly stronger than the driver's order-insensitive value hash.

Usage:
    python tools/verify_oracle.py [sf_dir] [query ...] [--driver-canon]

``--driver-canon`` additionally replays the DRIVER's stricter hash
discipline on every compared pair: pandas lexsort over the raw columns
(no object stringification first — an array/map output column raises the
same ``unhashable type`` the driver records as an ERROR) and then
cell-by-cell ``str()`` comparison (so an int64 483 from Spark vs a
HUGEINT→float64 483.0 from DuckDB mismatches, exactly as the driver's
order-insensitive value hash does even though ``483.0 == 483``). Run it
before every round: it surfaces representation-level oracle defects the
value-equality compare hides.
"""

from __future__ import annotations

import math
import os
import sys
import traceback

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def driver_canon_problems(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Replay the driver's canonicalization on both frames and diff the
    stringified cells. Returns [] when the driver's value hash would
    match; otherwise one problem string per defect class."""
    out: list[str] = []
    frames = []
    for side, df in (("spark", spark_pdf), ("duck", duck_pdf)):
        df = df[sorted(df.columns)].copy()
        try:
            # the driver sorts the RAW columns — unhashable cells (list /
            # dict / ndarray) kill its Categorical lexsort
            df = df.sort_values(by=list(df.columns), na_position="first")
        except TypeError as e:
            out.append(f"driver-canon {side} lexsort ERROR: {e}")
            continue
        frames.append(df.reset_index(drop=True))
    if out or len(frames) != 2:
        return out
    a, b = frames
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return out  # row/column mismatch already reported by compare()
    for col in a.columns:
        av = [str(v) for v in a[col].tolist()]
        bv = [str(v) for v in b[col].tolist()]
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if x != y]
        if bad:
            i, x, y = bad[0]
            out.append(
                f"driver-canon repr differs in '{col}': {len(bad)}/{len(av)}"
                f" cells; first row {i}: spark={x!r} duck={y!r}"
            )
    return out


def driver_lexsort_error(pdf: pd.DataFrame) -> str | None:
    """The driver canonicalizes EVERY query's output — rows-only included
    — by lexsorting the raw pandas columns. A container-typed cell (list /
    dict / ndarray) raises ``unhashable type`` there and records a driver
    ERROR even though the values are right (the r07 q_image_dedup /
    q_image_jpeg / q_bpe_encode reds). Replay that sort on a single frame;
    return the error string or None."""
    try:
        pdf[sorted(pdf.columns)].sort_values(
            by=sorted(pdf.columns), na_position="first"
        )
    except TypeError as e:
        return f"driver-canon lexsort would ERROR: {e}"
    return None


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"values differ in '{col}': {len(bad)}/{len(av)} rows; first row {i}: spark={x!r} duck={y!r}"
            )
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--driver-canon", "-v")]
    driver_canon = "--driver-canon" in sys.argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from mesin_spark.session import get_session

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = get_session("verify_oracle")
    con = duck_connection(sf_dir)

    if only:
        unknown = sorted(set(only) - set(qs))
        if unknown:
            raise SystemExit(
                f"unknown query name(s): {unknown} — a filtered gate that "
                "matches nothing would report success while verifying nothing"
            )
    names = [n for n in qs if not only or n in only]
    passed, failed, rows_only, vacuous = [], [], [], []
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            spdf = sdf.toPandas()
            if name not in oracles:
                # rows-only frames STILL pass through the driver's
                # canonicalizer — replay its lexsort unconditionally so a
                # container-typed output column fails HERE, not in the
                # driver's record (the r07 blind spot: this branch used to
                # `continue` before any canon check ran)
                lex_err = driver_lexsort_error(spdf)
                if lex_err:
                    failed.append(name)
                    print(f"  FAIL {name} (rows-only): {lex_err}")
                    continue
                rows_only.append((name, len(spdf)))
                if len(spdf) == 0:
                    # a rows-only query returning nothing exercises
                    # nothing — as weak as a vacuous exact pass
                    vacuous.append(name)
                    print(f"  ROWS-ONLY {name}: 0 rows — VACUOUS")
                else:
                    print(
                        f"  ROWS-ONLY {name}: {len(spdf)} rows, "
                        f"cols={sorted(spdf.columns)}"
                    )
                continue
            dpdf = con.execute(oracles[name]).df()
            problems = compare(spdf, dpdf)
            if driver_canon and not problems:
                problems = driver_canon_problems(spdf, dpdf)
            if problems:
                failed.append(name)
                print(f"  FAIL {name}: " + " | ".join(problems))
            else:
                passed.append(name)
                # a Spark-0 == DuckDB-0 match proves only that both
                # return empty — flag it so no oracle certifies
                # vacuously (VERDICT r04 "What's wrong" #2)
                if len(spdf) == 0:
                    vacuous.append(name)
                    print(f"  ok   {name} (0 rows — VACUOUS)")
                else:
                    print(f"  ok   {name} ({len(spdf)} rows)")
        except Exception as e:
            failed.append(name)
            print(f"  ERROR {name}: {type(e).__name__}: {e}")
            if "-v" in sys.argv:
                traceback.print_exc()
    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only "
        f"(of {len(names)} at {sf_dir})"
    )
    if vacuous:
        print(f"vacuous 0-row passes ({len(vacuous)}):", " ".join(vacuous))
    if failed:
        print("failed:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
