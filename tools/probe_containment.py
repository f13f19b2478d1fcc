"""Stage attribution for q_dedup_containment's prefix route at a scaled
corpus: run cumulative sub-frames (flat+freq prefix -> candidates ->
full verify) to a noop sink in ONE JVM and read the engine's shuffle
bytes after each, so each stage's bytes/wall = the deltas.

Usage: python tools/probe_containment.py <scaled_dir> [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    scaled = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F
    from mesin_spark.session import get_session
    from mesin_spark.sources import read_parquet
    from mesin_spark.ext import dedup as D
    from mesin_spark.ext import text as TX
    from tools.shuffle_audit import execution_metric_totals

    spark = get_session("probe_containment")
    spark.sparkContext.setLogLevel("ERROR")
    store = spark._jsparkSession.sharedState().statusStore()

    d = read_parquet(spark, os.path.join(scaled, "documents.parquet")).filter(
        TX.token_count("text") >= 2
    )
    grams = F.array_sort(
        F.transform(F.array_distinct(D.shingles(F.col("text"), 2)),
                    lambda s: F.xxhash64(s))
    )
    base = d.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    ).select(F.col("source").alias("blk"), F.col("doc_id").alias("_id"),
             grams.alias("_g"))
    flat = base.select("blk", "_id", F.size("_g").alias("_sz"),
                       F.explode("_g").alias("_tok"))
    prefix_a = D._rarest_first_prefix(flat, 0.8).select(
        "blk", "_tok", F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a")
    )
    post_b = flat.select("blk", "_tok", F.col("_id").alias("id_b"),
                         F.col("_sz").alias("sz_b"))
    sz_num = D._threshold_num(0.8)
    cands = (
        prefix_a.join(post_b.hint("shuffle_hash"), ["blk", "_tok"])
        .filter((F.col("id_a") != F.col("id_b"))
                & F.expr(f"1000000 * cast(sz_b as bigint) >= "
                         f"{sz_num} * cast(sz_a as bigint)"))
        .select("blk", "id_a", "id_b").distinct()
    )
    ga = base.select("blk", F.col("_id").alias("id_a"), F.col("_g").alias("g_a"))
    gb = base.select("blk", F.col("_id").alias("id_b"), F.col("_g").alias("g_b"))
    full = D.ngram_containment_pairs(
        d, "doc_id", block_col="source", n=2, threshold=0.8,
    )

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    stages = [
        ("prefix_a", prefix_a),
        ("cands", cands),
        ("verify_full_op", full),
    ]
    rows, prev_shuf = [], None
    first_id = 0
    for name, df in stages:
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"containment probe: {name}")
        noop(df)
        wall = round(time.time() - t0, 1)
        tot = execution_metric_totals(store, first_id)
        shuf = tot.get("shuffle", 0.0)
        rows.append({"stage": name, "wall_s": wall,
                     "cum_shuffle_mb": round(shuf / 2**20, 1)})
        print(rows[-1], flush=True)
    if out_path:
        with open(out_path, "w") as f:
            json.dump(rows, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
