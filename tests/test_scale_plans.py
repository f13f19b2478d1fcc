"""Physical-plan audits — the 100 TB discipline checks (SURVEY.md §4.2):
predicate pushdown reaches the parquet scan, column pruning narrows
ReadSchema, dimension joins broadcast, top-k fuses to
TakeOrderedAndProject, implicit cross joins don't stay cartesian, and
whole-stage codegen covers the hot path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mesin_spark.queries import T
from tests.conftest import SF_DIR


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def simple_physical(df) -> str:
    return df._jdf.queryExecution().simpleString()


def test_filter_pushdown_reaches_scan(spark):
    df = (
        T(spark, SF_DIR, "lineitem")
        .filter((F.col("l_quantity") > 25) & (F.col("l_discount") < 0.05))
        .select("l_orderkey")
    )
    plan = physical(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_narrows_read_schema(spark):
    df = T(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = physical(df)
    seg = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in seg and "l_quantity" in seg
    assert "l_comment" not in seg and "l_extendedprice" not in seg


def test_dimension_join_broadcasts(spark):
    from mesin_spark.queries.joins import q_join_inner

    plan = physical(q_join_inner(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_fuses_to_take_ordered(spark):
    from mesin_spark.queries.relational import q_topk

    plan = physical(q_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort shuffle


def test_implicit_cross_join_becomes_hash_join(spark):
    from mesin_spark.queries.joins import q_join_implicit

    plan = physical(q_join_implicit(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_aggregate_is_partial_final(spark):
    from mesin_spark.queries.aggregates import q_sum

    plan = physical(q_sum(spark, SF_DIR))
    # two HashAggregate ops (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2


def test_flagship_query_stays_in_codegen(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    df.collect()  # AQE: codegen annotations only appear in the final plan
    plan = physical(df)
    # codegen stages print as "*(n) Op" in the executed-plan tree (the
    # literal "WholeStageCodegen" only appears in formatted explain)
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python in hot path


def test_no_python_udf_in_llm_text_ops(spark):
    from mesin_spark.queries.llm import q_quality_score, q_text_tokens

    for q in (q_text_tokens, q_quality_score):
        plan = physical(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, "text ops must stay JVM-side"


def test_tpch_q3_topk_fuses_and_broadcasts(spark):
    from mesin_spark.queries.tpch import q_tpch_q3

    df = q_tpch_q3(spark, SF_DIR)
    df.collect()
    plan = physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_tpch_q5_broadcasts_all_dims(spark):
    from mesin_spark.queries.tpch import q_tpch_q5

    df = q_tpch_q5(spark, SF_DIR)
    df.collect()
    plan = physical(df)
    # customer, supplier, nation, region all broadcast: no shuffle for dims
    assert plan.count("BroadcastHashJoin") >= 4
    # remaining exchanges: fact join + final agg + sort ordering only
    assert plan.count("Exchange hashpartitioning") <= 3


def test_tpch_q6_all_predicates_pushed(spark):
    from mesin_spark.queries.tpch import q_tpch_q6

    plan = physical(q_tpch_q6(spark, SF_DIR))
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to parquet scan"


def test_semi_join_planned(spark):
    from mesin_spark.queries.joins import q_join_semi

    plan = physical(q_join_semi(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_session_window_uses_single_shuffle(spark):
    from mesin_spark.queries.events import q_session_batch

    plan = physical(q_session_batch(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2  # partial/final agg pair


def test_decontaminate_broadcasts_bench_grams(spark):
    from mesin_spark.queries.llm2 import q_decontaminate

    plan = physical(q_decontaminate(spark, SF_DIR))
    # the benchmark gram set is tiny next to the corpus -> AQE must pick a
    # broadcast semi-join, never a shuffled one
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_pack_sequences_single_window_shuffle(spark):
    from mesin_spark.queries.llm2 import q_pack_sequences

    plan = physical(q_pack_sequences(spark, SF_DIR))
    # shard-partitioned window: exactly one data shuffle, keyed on shard
    assert plan.count("Exchange hashpartitioning") == 1
    assert "shard" in plan[plan.index("Exchange hashpartitioning") :].splitlines()[0]


def test_zorder_and_radius_stay_mapside_scan(spark):
    from mesin_spark.queries.llm2 import q_sim_radius
    from mesin_spark.queries.sql_menu2 import q_zorder

    # zorder key: pure projection over the scan, no exchange of any kind
    assert "Exchange" not in physical(q_zorder(spark, SF_DIR))
    # radius search: filter + scan; the orderBy is driver-side collect
    # ordering over the filtered (small) result, never a global sort of
    # the corpus scan side
    plan = physical(q_sim_radius(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_gapfill_broadcasts_spine(spark):
    from mesin_spark.queries.sql_menu2 import q_gapfill

    plan = physical(q_gapfill(spark, SF_DIR))
    # hour-spine x types dimension is broadcast; the only fact-sized
    # shuffle is the hourly aggregate
    assert "Broadcast" in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_span_removal_no_cartesian_no_python(spark):
    """The ExactSubstr path must stay keyed joins: no CartesianProduct,
    no Python eval anywhere, and the ownership aggregate is partial+final
    on the shingle hash."""
    from mesin_spark.queries.llm4 import q_span_removal

    plan = physical(q_span_removal(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_funnel_broadcasts_stage_frames(spark):
    """Funnel stages join shrinking per-user frames back to filtered event
    scans — the stage side must broadcast, never shuffle the fact twice."""
    from mesin_spark.queries.events2 import q_funnel

    plan = physical(q_funnel(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange_for_three_windows(spark):
    """Change detection (lag), versioning (row_number) and interval close
    (lead) share the user_id partitioning: exactly ONE hashpartitioning
    exchange on user_id in the plan."""
    from mesin_spark.queries.events2 import q_scd2

    plan = physical(q_scd2(spark, SF_DIR))
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(exchanges) == 1, f"expected 1 user_id exchange, got {len(exchanges)}"


def test_agg_filter_single_scan_single_aggregate_pair(spark):
    """All FILTERed aggregates must plan into one scan — no self-join
    fan-out (the filtered-DISTINCT adds its own expand, not a re-scan)."""
    from mesin_spark.queries.sql_menu4 import q_agg_filter

    plan = physical(q_agg_filter(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_pq_adc_scan_fuses_to_take_ordered(spark):
    """PQ query-time ranking: ADC sums over the codes column fuse into
    TakeOrderedAndProject — no global sort, no shuffle of the corpus."""
    from mesin_spark.queries.llm4 import q_pq_ann

    df = q_pq_ann(spark, SF_DIR)
    plan = physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_tpch_q2_no_cartesian_all_dims_broadcast(spark):
    """Q2's per-part minimum must ride the window over the partkey
    shuffle — no second self-join of the cost table, no cartesian, and
    supplier/nation/region/part all broadcast."""
    from mesin_spark.queries.tpch import q_tpch_q2

    plan = physical(q_tpch_q2(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_tpch_q9_single_fact_fact_shuffle(spark):
    """Q9's only shuffle join is lineitem⋈orders; part/supplier/nation
    broadcast, so exactly one join keys on a sort-merge/shuffle side."""
    from mesin_spark.queries.tpch import q_tpch_q9

    plan = physical(q_tpch_q9(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_tpch_q12_shipdate_filter_pushed(spark):
    """Q12's shipdate year range must reach the parquet scan even through
    the NTZ→LTZ source cast (Spark unwraps the cast in the comparison)."""
    from mesin_spark.queries.tpch import q_tpch_q12

    plan = physical(q_tpch_q12(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "GreaterThanOrEqual(l_shipdate" in plan
    )


def test_tpch_q16_exclusion_is_broadcast_anti_join(spark):
    """Q16's NOT IN must plan as a broadcast anti-join against the
    filtered supplier slice — never a per-row subquery or shuffle."""
    from mesin_spark.queries.tpch import q_tpch_q16

    plan = physical(q_tpch_q16(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_tpch_q21_decorrelated_single_fact_scan(spark):
    """Q21's EXISTS/NOT-EXISTS pair decorrelates to ONE per-order
    aggregation (supplier count + bounded late-supplier set), so lineitem
    scans exactly once — never the 3 scans of a naive double self-join —
    and no nested-loop join appears anywhere."""
    from mesin_spark.queries.tpch import q_tpch_q21

    plan = physical(q_tpch_q21(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    li_scans = len(re.findall(r"FileScan parquet.*lineitem", plan))
    assert li_scans == 1, f"expected 1 lineitem scan, got {li_scans}"


def test_pmi_topk_fuses_no_cartesian(spark):
    """q_pmi_bigrams: the top-20 must fuse to TakeOrderedAndProject (no
    global sort shuffle), the two count-table joins must be hash joins,
    and the only nested-loop joins are the broadcast 1-row totals."""
    from mesin_spark.queries.llm5 import q_pmi_bigrams

    plan = physical(q_pmi_bigrams(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_transitions_single_user_sort_no_python(spark):
    """q_transitions: one user-keyed window sort is the only data-sized
    exchange; the pair agg and row-normalization run over the tiny
    |types|^2 aggregate. No Python anywhere."""
    import re

    from mesin_spark.queries.llm5 import q_transitions

    plan = physical(q_transitions(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    ev_scans = len(re.findall(r"FileScan parquet.*events", plan))
    assert ev_scans == 1, f"expected 1 events scan, got {ev_scans}"


def test_incremental_dedup_is_single_anti_join(spark):
    """q_dedup_incremental: one LeftAnti hash join on the content hash —
    no sort, no cartesian, and the doc_id%3 partition filters pushed to
    both scan sides."""
    from mesin_spark.queries.llm5 import q_dedup_incremental

    plan = physical(q_dedup_incremental(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pit_features_single_events_scan_one_shuffle(spark):
    """q_pit_features: the N feature streams must come from ONE events
    scan (conditional projection, not a scan per stream), with the
    user_id window sort the only data-sized exchange."""
    import re

    from mesin_spark.queries.events2 import q_pit_features

    plan = physical(q_pit_features(spark, SF_DIR))
    ev_scans = len(re.findall(r"FileScan parquet.*events", plan))
    assert ev_scans == 1, f"expected 1 events scan, got {ev_scans}"
    assert "BatchEvalPython" not in plan
    exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert exchanges == 1, f"expected 1 hash exchange, got {exchanges}"


def test_weighted_sample_fuses_to_take_ordered(spark):
    """q_weighted_sample: map-side key computation + TakeOrderedAndProject
    — no shuffle, no global sort, at any corpus size."""
    from mesin_spark.queries.llm5 import q_weighted_sample

    plan = physical(q_weighted_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_decontaminate_embed_broadcasts_bench_side(spark):
    """q_decontaminate_embed: the benchmark side must broadcast (BNLJ over
    ONE corpus scan — the designed shape for a small-by-definition eval
    set); no cartesian product, no Python."""
    from mesin_spark.queries.llm5 import q_decontaminate_embed

    plan = physical(q_decontaminate_embed(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_single_events_scan(spark):
    """q_asof_join: reference + probe sides must come from ONE events scan
    (purchase rows map-side explode into twins), not a scan per side."""
    import re

    from mesin_spark.queries.events import q_asof_join

    plan = physical(q_asof_join(spark, SF_DIR))
    ev_scans = len(re.findall(r"FileScan parquet.*events", plan))
    assert ev_scans == 1, f"expected 1 events scan, got {ev_scans}"
    assert "BatchEvalPython" not in plan


def test_prefix_jaccard_no_cartesian(spark):
    """The prefix-filter set-similarity join must never degrade to a
    cartesian product: candidates come from a keyed equi-join on the
    prefix token, verify from keyed id joins."""
    from mesin_spark.ext.dedup import prefix_jaccard_pairs

    docs = T(spark, SF_DIR, "documents")
    plan = physical(prefix_jaccard_pairs(docs, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trigram_pairs_no_cartesian(spark):
    from mesin_spark.ext.dedup import trigram_blocked_pairs

    sup = T(spark, SF_DIR, "supplier")
    plan = physical(trigram_blocked_pairs(sup, "s_suppkey", "s_name"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_datacard_single_shuffle(spark):
    """The per-source datacard must be one grouped aggregate: exactly
    one Exchange (the groupBy on source; distinct-agg expands but stays
    on the same key)."""
    from mesin_spark.queries.stats_menu import q_datacard

    plan = physical(q_datacard(spark, SF_DIR))
    # partial/final pairs may add an Exchange for the distinct expand —
    # but nothing may shuffle on a non-source key
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_kmv_overlap_pair_join_is_metadata_sized(spark):
    """kmv_overlap joins sketch rows (one per group) — the join inputs
    must be aggregates, not raw events (no events-scale shuffle after
    the sketch build)."""
    from mesin_spark.ext.sketches import kmv_overlap, kmv_sketch
    from mesin_spark.queries import load_events

    ev = load_events(spark, SF_DIR)
    sk = kmv_sketch(ev, "event_type", "user_id", k=64)
    plan = physical(kmv_overlap(sk, "event_type", k=64))
    assert "CartesianProduct" not in plan


def test_pagerank_round_plan_shape(spark):
    """One pagerank power-iteration round must keep its plan lean: one
    join of the state into the augmented edges plus one groupBy(dst).
    The dangling mass and the uniform term ride that aggregate, so a
    round holds no nested-loop join and no cartesian product. Built from
    pagerank's OWN setup/round builders, so a regression in the real
    implementation fails here."""
    import re

    from mesin_spark.ext.graph import pagerank_round, pagerank_setup
    from mesin_spark.queries.stats_menu import _purchase_edges

    edges = _purchase_edges(spark, SF_DIR)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_norm = (
        e.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .localCheckpoint(eager=True)
    )

    def round_plan(salts, broadcast_ranks):
        aug, state, n = pagerank_setup(e_norm, salts)
        # a mid-run state (every node plus the sentinel), as round 2 sees it
        state = pagerank_round(
            state, aug, 0.85, n, salts, broadcast_ranks
        ).localCheckpoint(eager=True)
        plan = physical(pagerank_round(state, aug, 0.85, n, salts, broadcast_ranks))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        return plan

    # the SHUFFLE route: the state and the edges exchange on the join key
    # (the sentinel salted over the shuffle partitions) and the aggregate
    # on dst — one keyed join, at most three exchanges
    salts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plan = round_plan(salts, False)
    assert len(re.findall(r"(SortMergeJoin|ShuffledHashJoin)", plan)) <= 1
    assert len(re.findall(r"Exchange (hash|Single|range)", plan)) <= 3

    # the SMALL-VERTEX-SET round (broadcast_ranks=True, what q_pagerank's
    # ~16k-node graph takes): the state broadcasts into the edge scan, so
    # the round's only data exchange is the contribution aggregate's
    # partial->final hash exchange
    bplan = round_plan(1, True)
    assert not re.findall(r"(SortMergeJoin|ShuffledHashJoin)", bplan)
    assert bplan.count("BroadcastHashJoin") == 1  # the state into the edges
    assert len(re.findall(r"Exchange (hash|Single|range)", bplan)) <= 1


@pytest.mark.parametrize("broadcast_ranks", [True, False])
def test_pagerank_plan_grows_linearly(spark, broadcast_ranks):
    """Without a checkpoint the optimized plan's leaf count grows by a
    constant per round from 4 to 8 rounds: each round reads the previous
    state once (it doubled per round while the dangling-mass aggregate
    read the ranks a second time)."""
    from mesin_spark.ext.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src bigint, dst bigint"
    )
    leaves = []
    for rounds in range(4, 9):
        ranks = pagerank(
            edges,
            max_iter=rounds,
            checkpoint_every=rounds,
            broadcast_ranks=broadcast_ranks,
            final_checkpoint=False,
        )
        leaves.append(ranks._jdf.queryExecution().optimizedPlan().collectLeaves().size())
    steps = {b - a for a, b in zip(leaves, leaves[1:])}
    assert len(steps) == 1, leaves


def test_portable_vector_outputs_are_mapside_scans(spark):
    """The round-7 portable twins must keep their output stage shuffle-
    free: after the bounded driver-side fit (Gram collect / centroid
    collects), the corpus-sized projection/assignment is a literal-
    constant codegen expression over ONE scan — no Exchange, no join,
    no Python UDF anywhere in the plan. At 100 TB this is the difference
    between a second pass over the data and a reshuffle of it."""
    from mesin_spark.ext.kmeans import kmeans_portable_assign
    from mesin_spark.ext.pca import pca_portable_pc1
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    for df in (
        pca_portable_pc1(emb, rounds=4),
        kmeans_portable_assign(emb, k=4, rounds=1),
    ):
        plan = physical(df)
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
        for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonMapInArrow",
                       "MapInPandas"):
            assert marker not in plan, marker


def test_dpp_join_prunes_partitions(spark):
    """q_dpp_join's fact scan must carry a runtime dynamicpruning
    subquery in its PartitionFilters — the dimension filter reaches the
    partitioned fact scan as file pruning, not a post-scan filter."""
    from mesin_spark.queries.storage import q_dpp_join

    plan = physical(q_dpp_join(spark, SF_DIR))
    assert "dynamicpruning" in plan
    assert "PartitionFilters: [isnotnull(ship_year" in plan


def test_sq8_search_has_no_keyed_shuffle(spark):
    """SQ8 ANN search is one codegen'd scan: the only exchanges are the
    1-row bounds aggregate (SinglePartition) and broadcasts — a keyed
    hash exchange would mean the corpus shuffles per query, the wrong
    100 TB shape. The top-k must fuse to TakeOrderedAndProject."""
    from mesin_spark.ext.similarity import sq8_topk

    df = sq8_topk(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), query_id=0, k=10
    )
    df.collect()
    plan = physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
