"""Regenerate PLANS.md: formatted physical plans for the bench headline
queries at sf0.01, annotated with the scale property each plan is expected
to show (pushed filters, pruned schemas, broadcast joins, top-k fusion).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from mesin_spark.session import get_session  # noqa: E402

NOTES = {
    "q_tpch_q1": "date filter pushed to scan; partial+final HashAggregate; 7-column ReadSchema (pruned from 11)",
    "q_tpch_q3": "customer broadcast; both fact filters pushed; top-10 fused to TakeOrderedAndProject",
    "q_tpch_q5": "all four dimension sides broadcast; single fact shuffle on orderkey",
    "q_tpch_q18": "IN-over-HAVING planned as aggregate + left-semi join; re-aggregation after; top-100 fused",
    "q_tpch_q9": "part LIKE slice + supplier/nation broadcast; lineitem⋈orders the single fact-fact shuffle",
    "q_tpch_q21": "decorrelated EXISTS/NOT-EXISTS: one orderkey aggregation (count + bounded late-set), single lineitem scan",
    "q_join_3way": "fact-fact shuffle join on orderkey; customer broadcast",
    "q_join_semi": "LeftSemi broadcast join (IN-subquery shape)",
    "q_topk": "sort+limit fused to TakeOrderedAndProject: per-partition k-heaps, no global sort",
    "q_topk_per_group": "single shuffle on the window partition key; rank filter applied before projection",
    "q_running_sum": "one window shuffle; running frame evaluated in a single pass",
    "q_tumbling_batch": "window struct computed map-side; one grouping shuffle",
    "q_asof_join": "single-scan as-of: purchase rows explode into (ref, probe) twins map-side; ONE shuffle on user_id, no range explosion",
    "q_dedup_minhash": "repartition spreads shingling; banding groupBy + bounded buckets; verify join on hashed shingles",
    "q_sim_topk": "brute-force cosine = one codegen'd scan + TakeOrderedAndProject",
    "q_text_tokens": "explode map-side; token groupBy with partial aggregation",
    "q_tfidf": "two keyed shuffles (tf, df); no forced broadcast — AQE picks the df join side at runtime",
    "q_chunk_docs": "pure map-side explode — zero shuffles",
    "q_rollup": "Expand computes all grouping sets in one pass, one shuffle",
    "q_dedup_ngram": "grams hashed to sorted longs before the salted pair join; per-pair set ops on longs",
    "q_pipeline_e2e": "one signal-fold filter; only the dedup groupBy and survivor join shuffle",
    "q_decontaminate": "repartition spreads shingling; bench gram set broadcast into the semi-join",
    "q_pack_sequences": "single window shuffle partitioned by shard — n_shards-way parallel packing",
    "q_skew_join": "small side exploded across 8 salts then broadcast; hot-key probe stream splits 8 ways; one partial+final agg pair after",
    "q_knn_join": "probe batch broadcast into one corpus scan; two-phase per-query ranking — first window keyed (q_id, partition), final sees k·partitions rows",
    "q_span_removal": "shingle instances map-side; ownership = one hash groupBy; dup marking equi-join (AQE-broadcast owners); anti-join rebuild keyed on doc_id",
    "q_funnel": "three shrinking per-user min-aggregates; AQE broadcasts each stage frame into the next filtered scan — no fact-fact shuffle",
    "q_pmi_bigrams": "map-side bigram explode; two token-keyed count shuffles; count tables AQE-broadcast back; top-20 fused to TakeOrderedAndProject",
    "q_dedup_incremental": "single LeftAnti hash join on content hash — only the arriving batch shuffles against the snapshot's hash index",
    # AUDIT_EXTRA (round 10): the round-9 ops byte-audited per round
    "q_fuzzy_join": "duplicate collapse to distinct names first; measured route (all-pairs below the 64-cands/name crossover, PassJoin segments past it); levenshtein verify INSIDE the candidate join, <=k filter before the dedup exchange",
    "q_fuzzy_clusters": "fuzzy pairs closed into components: min-label iteration over the (small) pair graph, checkpointed via ext/ckpt",
    "q_dedup_embed": "norms computed once pre-pair; exact all-pairs below the occupancy cliff (oracle scales), LSH band sub-blocking past it with cosine inside the bucket join (explicit approx_ok opt-in)",
    "q_dedup_containment": "asymmetric size pigeonhole inside the candidate join; verify route on MEASURED gram bytes — broadcast under 256 MiB (per-pair arrays never re-exchange), pinned shuffle_hash past it",
}


def main() -> None:
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    spark = get_session("mesin_spark-plans")
    registry = entrymod.queries()
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# PLANS — formatted physical plans of the bench headline (sf0.01)",
        "",
        "Regenerate with `python tools/dump_plans.py`. Each plan is the",
        "post-AQE executed plan; the note states the scale property the plan",
        "must exhibit (asserted for key queries in tests/test_scale_plans.py).",
        "",
    ]
    from tools.shuffle_audit import AUDIT_EXTRA

    for name in HEADLINE + AUDIT_EXTRA:
        if name not in NOTES:
            continue
        df = registry[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}")
        out.append("")
        out.append(f"*{NOTES[name]}*")
        out.append("")
        out.append("```")
        out.append(plan.strip()[:4000])
        out.append("```")
        out.append("")
    with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
