"""Shuffle/scan byte audit of the bench headline — measure, don't guess.

Wall-clock (bench.py) says how long a query took on THIS machine; bytes
say how it will scale. For each headline query this tool runs the plan
to a noop sink and reads the engine's own SQLMetrics out of the
SQLAppStatusStore (works headless — the SQL listener is always on):

- scan bytes   ("size of files read"): what the query pulled off disk —
  column pruning + partition/zone pruning show up here;
- shuffle bytes ("shuffle bytes written"): what crossed the exchange —
  THE 100 TB cost driver; broadcast joins and map-side partial
  aggregation show up here;
- spill bytes: nonzero means a partition didn't fit its task's memory —
  a re-partitioning bug at any scale.

The shuffle/scan ratio is the headline number: a well-shaped aggregate
query shuffles a tiny fraction of what it scans (partial agg), a
well-shaped join shuffles at most ~1x its probe side.

The audit also re-runs every query on the 3x scaled copy (the same one
bench.py times) and reports the SHUFFLE-BYTES slope: bytes are machine-
noise-free, so a plan whose shuffle grows superlinearly in the data
(candidate-pair blowup, accidental rescan) shows up here rounds before
wall-clock can prove it on a loaded host. Linear plans sit at slope
<= factor; slope near factor^2 is a quadratic candidate space. Writes
SHUFFLE.md. Set SPARK_GRAFT_SCALE2=0 to skip the scaled pass.

Usage:
    python tools/shuffle_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

_UNITS = {"B": 1, "KIB": 1024, "MIB": 1024**2, "GIB": 1024**3, "TIB": 1024**4}

SCALE_FACTOR = 3

#: regeneration keeps everything at/below this line in SHUFFLE.md
MANUAL_MARKER = "<!-- MANUAL SECTIONS -->"

#: audited beyond bench.HEADLINE (which stays fixed for cross-round
#: record comparability): the round-9 operators whose new routing would
#: otherwise only be byte-checked by a full 100x probe rerun, not by
#: the per-round drift-proof audit (round-9 verdict ask #3)
AUDIT_EXTRA = [
    "q_fuzzy_join",
    "q_fuzzy_clusters",
    "q_dedup_embed",
    "q_dedup_containment",
]


def parse_bytes(text: str) -> float:
    """'1018.0 KiB' / '12.3 MiB' / '213.0 B' → bytes. Metric strings for
    aggregated accumulators look like 'total (min, med, max...)\\n96.0 B
    (32.0 B, 32.0 B, 32.0 B...)' — the leading total is what we want."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2).upper()]


def fmt(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        if n < 1024 or unit == "TiB":
            return f"{n:,.1f} {unit}"
        n /= 1024
    return f"{n:,.1f} TiB"


def execution_metric_totals(store, first_id: int) -> dict[str, float]:
    """Sum byte metrics across every SQL execution with id >= first_id.

    Deduped by accumulator id: a plan that reuses an exchange (AQE
    ReusedExchange) or embeds a cached child plan (InMemoryTableScan
    repeats the cached plan's nodes — one per consumer) lists the SAME
    metric accumulator once per plan-tree appearance, while the bytes
    were physically written exactly once. Summing per appearance
    multi-counted those exchanges by their consumer count (measured
    4-8x on q_dedup_containment's persisted gram table in round 10 —
    108.4 GiB as-counted vs ~20 GiB physically written at the 100x
    probe). Counting each accumulator once reports physical bytes
    written — the number that predicts cluster network/disk cost."""
    kinds = {
        "size of files read": "scan",
        "shuffle bytes written": "shuffle",
        "spill size": "spill",
    }
    # acc id -> (kind, bytes); accumulator values only grow, so keep the
    # max seen across executions (a cache rebuilt in a later execution
    # accumulates further onto the same accumulator)
    by_acc: dict[int, tuple[str, float]] = {}
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() < first_id:
            continue
        vals = store.executionMetrics(ex.executionId())
        mets = ex.metrics()
        it = mets.iterator()
        while it.hasNext():
            m = it.next()
            kind = kinds.get(m.name())
            if kind is None:
                continue
            v = vals.get(m.accumulatorId())
            if not v.isDefined():
                continue
            b = parse_bytes(v.get())
            prev = by_acc.get(m.accumulatorId())
            if prev is None or b > prev[1]:
                by_acc[m.accumulatorId()] = (kind, b)
    totals = {"scan": 0.0, "shuffle": 0.0, "spill": 0.0}
    for kind, b in by_acc.values():
        totals[kind] += b
    return totals


def audit(spark, store, registry, names, sf_dir) -> dict[str, dict[str, float]]:
    """Run each query at sf_dir to a noop sink; return per-query byte
    totals from the engine's own SQLMetrics."""
    out: dict[str, dict[str, float]] = {}
    for name in names:
        execs = store.executionsList()
        first_id = (
            execs.apply(execs.size() - 1).executionId() + 1 if execs.size() else 0
        )
        df = registry[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        # metrics land on the ASYNC listener bus after save() returns —
        # drain it or totals undercount on a loaded machine
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        out[name] = execution_metric_totals(store, first_id)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    do_scale2 = os.environ.get("SPARK_GRAFT_SCALE2", "1") != "0"

    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from mesin_spark.session import get_session

    spark = get_session("mesin_shuffle_audit")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrymod.queries()
    store = spark._jsparkSession.sharedState().statusStore()

    names = HEADLINE + AUDIT_EXTRA
    base = audit(spark, store, registry, names, sf_dir)
    for name, t in base.items():
        ratio = (t["shuffle"] / t["scan"]) if t["scan"] else 0.0
        print(
            f"{name:24s} scan={fmt(t['scan']):>12s} shuffle={fmt(t['shuffle']):>12s} "
            f"ratio={ratio:6.3f} spill={fmt(t['spill'])}"
        )

    scaled: dict[str, dict[str, float]] | None = None
    scaled_note = ""
    if do_scale2:
        try:
            from tools.make_scale import ensure_scaled

            scaled_dir = ensure_scaled(sf_dir, SCALE_FACTOR)
            scaled = audit(spark, store, registry, names, scaled_dir)
            scaled_note = (
                f"Scaled pass: same queries at {SCALE_FACTOR}x data "
                f"({scaled_dir}). shuffle-slope = shuffle bytes at "
                f"{SCALE_FACTOR}x / at 1x — linear plans sit at <= "
                f"{SCALE_FACTOR}.0; a slope near {SCALE_FACTOR**2} means a "
                "quadratic candidate space. ratio-slope compares the "
                "shuffle/scan ratio across scales (1.0 = the plan's shape "
                "is scale-invariant)."
            )
        except Exception as exc:  # noqa: BLE001 — audit must still emit 1x
            print(f"WARN scaled audit skipped: {exc}", file=sys.stderr)

    hdr = "| query | scan | shuffle | shuffle/scan | spill |"
    sep = "|---|---|---|---|---|"
    if scaled:
        hdr = (
            "| query | scan | shuffle | shuffle/scan | spill "
            f"| shuffle@{SCALE_FACTOR}x | shuffle-slope | ratio-slope |"
        )
        sep = "|---|---|---|---|---|---|---|---|"

    out = [
        "# SHUFFLE — bytes scanned vs bytes shuffled per headline query",
        "",
        f"Source: engine SQLMetrics (SQLAppStatusStore), sf_dir={sf_dir},",
        "noop sink. Regenerate with `python tools/shuffle_audit.py`.",
        "",
        "The shuffle/scan ratio is the scale indicator wall-clock can't",
        "give: it is machine-independent and survives a 1000x data and",
        "cluster scale-up. Low ratio = map-side work (partial aggregation,",
        "broadcast joins, pruned scans); ratio >~ 1 = the data crosses the",
        "network and the query is exchange-bound at 100 TB. Spill must be",
        "0 — nonzero means a partition outgrew its task's memory.",
        "",
        "METHODOLOGY (changed round 10): byte totals dedupe by metric",
        "accumulator id, so a reused/cached exchange counts its bytes",
        "ONCE (physical bytes written) instead of once per plan-tree",
        "consumer. Rounds <= 9 summed per appearance and so OVERSTATE",
        "cache-heavy queries by their consumer count (measured 4-8x on",
        "q_dedup_containment); do not compare raw byte values across the",
        "methodology boundary — the round-10 manual section below keeps",
        "both numbers for the affected operators.",
        "",
    ]
    if scaled_note:
        out += [scaled_note, ""]
    out += [hdr, sep]

    worst_slope = 0.0
    for name, t in base.items():
        ratio = (t["shuffle"] / t["scan"]) if t["scan"] else 0.0
        line = (
            f"| {name} | {fmt(t['scan'])} | {fmt(t['shuffle'])} | "
            f"{ratio:.3f} | {fmt(t['spill'])} |"
        )
        if scaled:
            s = scaled[name]
            sl = (s["shuffle"] / t["shuffle"]) if t["shuffle"] else 0.0
            r2 = (s["shuffle"] / s["scan"]) if s["scan"] else 0.0
            rslope = (r2 / ratio) if ratio else 0.0
            worst_slope = max(worst_slope, sl)
            line += f" {fmt(s['shuffle'])} | {sl:.2f} | {rslope:.2f} |"
        out.append(line)
    total_scan = sum(t["scan"] for t in base.values())
    total_shuf = sum(t["shuffle"] for t in base.values())
    total_line = (
        f"| **total** | **{fmt(total_scan)}** | **{fmt(total_shuf)}** | "
        f"**{(total_shuf / total_scan if total_scan else 0):.3f}** | |"
    )
    if scaled:
        s_shuf = sum(t["shuffle"] for t in scaled.values())
        total_line += (
            f" **{fmt(s_shuf)}** | "
            f"**{(s_shuf / total_shuf if total_shuf else 0):.2f}** | |"
        )
        print(
            f"scaled audit: total shuffle {fmt(total_shuf)} -> {fmt(s_shuf)}, "
            f"worst per-query shuffle-slope {worst_slope:.2f} "
            f"(linear = {SCALE_FACTOR}.0)"
        )
    out.append(total_line)
    out.append("")
    out.append("## Round-7 wall-clock adjudications")
    out.append("")
    out.append(
        "- **q_dedup_ngram r5->r6 1.69s->2.40s (1.42x) settled**: min-of-3"
        " on a quiet host, same code, both configurations — r6's threshold"
        " 0.055: **1.91s** (runs 4.96/2.55/1.91, 1969 pairs); r5's"
        " threshold 0.2: **1.79s** (runs 2.26/1.84/1.79, 5 pairs). The"
        " fixture recalibration costs ~0.12s (the extra 1964 surviving"
        " pairs through the final sort+collect — candidate generation and"
        " Jaccard evaluation are identical at both cuts); the remaining"
        " ~0.4s of the recorded 2.40 was host contention, consistent with"
        " the committed noisy-rerun artifact's ~25% wholesale inflation."
        " Plan unchanged (byte slope 2.97)."
    )
    out.append(
        "- **q_pagerank 4.07s->3.06s** (min-of-4 standalone at sf0.1;"
        " 3.45s min inside the shared-session bench protocol, vs 3.85"
        " there in r6): broadcast-rank rounds (the rank vector broadcasts"
        " into the edge scan; one <=|V|-row exchange per round instead of"
        " four), window-derived outdeg (one raw-edge scan, two setup"
        " materializations instead of three), and the redundant"
        " _purchase_edges distinct removed. Shuffle path retained for"
        " graphs past measure.BROADCAST_MAX_NODES with the skew-safe groupBy"
        " outdeg; both paths pytest-proven to agree to 1e-12."
    )
    out.append("")
    out.append("## Third scale datapoint: 10x shuffle slopes (round 7)")
    out.append("")
    out.append(
        "tools/slope10x.py measures the shuffle-heavy subset at 10x data"
        " (artifacts/r07/slope10x.json). Most plans land at slope 9.5-10.3"
        " (linear = 10): q_dedup_ngram 9.54, q_minhash_portable 9.74,"
        " q_span_removal 9.70, q_tfidf 9.89, q_session_batch 9.90,"
        " q_asof_join 9.67, q_running_sum 9.91, q_tpch_q18 9.52,"
        " q_tpch_q21 10.33. Two sit above: q_dedup_minhash 12.60 and"
        " q_pagerank 13.56 — BOTH are the 1x-over-combine artifact already"
        " decomposed for minhash at 3x, re-proven at 10x with row counts:"
        " purchase-graph edges 586,871 -> 5,868,710 (10.00x), nodes 14,999"
        " -> 149,990 (10.00x), minhash distinct candidate pairs 48,116 ->"
        " 483,588 (10.05x) — every row count exactly linear. The byte"
        " excess is partial-aggregate combine efficiency: at 1x AQE"
        " coalesces the upstream into ~3 map partitions where the ~31"
        " duplicate keys per dst/pair meet and collapse before the"
        " exchange; at 10x the same keys spread across 32 partitions"
        " (~1 copy each) and the exchange approaches its no-combine"
        " ceiling of min(|input rows|, #map-partitions x |keys|) — the 1x"
        " measurement is artificially LOW, the asymptotic is linear."
        " Cluster note for pagerank: pre-partitioning e_norm by dst and"
        " persist()ing makes every round exchange-FREE (broadcast join"
        " preserves streamed-side partitioning into the groupBy), but was"
        " measured SLOWER locally (5.06s vs 3.65s min-of-3: a fixed-width"
        " repartition caps the scan/assign stages at its width and loses"
        " AQE coalescing) — the same local-vs-cluster trade the pagerank"
        " docstring records; the plan shape supports it where partitions"
        " carry real data."
        " Wall-clock at the same 10x point (artifacts/r07/bench_x10.json, SCALE2 pass disabled, min-of-2 per query): headline total 72.4s vs 27.5s at 1x — 2.63x wall for 10x rows on the same local[32], the sublinear growth a fixed-core scale-up should show."
        " Spill at 10x: 0 bytes across every audited query (slope10x.json total_spill_10x = 0) — no partition outgrows its task memory even at 10x the bench scale."
    )
    out.append("")
    out.append("## Known-by-design outliers")
    out.append("")
    out.append(
        "- **q_span_removal / q_tfidf / q_dedup_minhash / q_dedup_ngram /"
        " q_pipeline_e2e** shuffle more than they scan because they EXPLODE"
        " tokens/shingles (or carry 64-hash signatures) before their keyed"
        " aggregation — the shuffle is proportional to token instances, not"
        " documents. That is the algorithm, not a plan defect; all stay"
        " partial-aggregated and keyed (never all-pairs). The minhash number"
        " also includes the local-mode repartition that spreads a single"
        " parquet file across cores; a real ingest has many files and skips"
        " it."
    )
    out.append(
        "- **q_dedup_minhash byte-slope decomposition** (round 6, measured"
        " per-stage at 1x and 3x): the local-mode repartition+shingle stage"
        " is exactly linear (byte slope 3.02), the band window+agg stage"
        " 2.96, and every ROW count is linear — raw pre-distinct candidate"
        " pairs 341,912 -> 1,020,852 (2.99x), distinct pairs 48,116 ->"
        " 142,880 (2.97x), buckets 58,189 -> 175,941. The >3 BYTE slope"
        " comes entirely from the pairs.distinct() exchange: its map-side"
        " partial aggregate collapses the ~16 band-duplicate copies of each"
        " pair 4.1x at 1x (341,912 raw -> 82,918 shuffled records) but only"
        " 1.7x at 3x (-> 593,438 records), because AQE coalesces the tiny"
        " 1x upstream into few map partitions where duplicates meet. The"
        " 1x measurement is artificially LOW, not the 3x one high; the"
        " asymptotic shuffle is proportional to raw candidate pairs —"
        " measured linear (2.99) — so the algorithmic slope is ~3.0, under"
        " the <=3.2 target."
    )
    out.append(
        "- **window queries (q_running_sum, q_session_batch, q_asof_join)**"
        " sit near ratio 1: a window sort moves each row once — the floor"
        " for any per-key ordered computation."
    )
    out.append(
        "- **ratio 0.000 rows** are broadcast-join or map-side plans: the"
        " fact table never crosses the network. This is the target state"
        " for dimension joins at 100 TB."
    )
    out.append("")
    # preserve hand-written sections: everything at and below the marker
    # survives regeneration (the round-8 scale sections live there)
    tail = ""
    try:
        prev = open(os.path.join(REPO_ROOT, "SHUFFLE.md")).read()
        idx = prev.find(MANUAL_MARKER)
        if idx != -1:
            tail = prev[idx:]
    except OSError:
        pass
    with open(os.path.join(REPO_ROOT, "SHUFFLE.md"), "w") as f:
        f.write("\n".join(out))
        if tail:
            f.write("\n" + tail)
    print("wrote SHUFFLE.md" + (" (manual tail preserved)" if tail else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
