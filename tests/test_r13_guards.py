"""Round-13 regression guards (verdict r12 item 7 + advice r12).

1. The Spark 4.1 let_bound ↔ pandas-UDF fragility: a let-bound tree
   (nested lambdas) fed DIRECTLY as a pandas-UDF argument can trip an
   order-dependent UDF-extraction INTERNAL error ("Cannot evaluate
   expression"). The workaround — eagerly checkpoint so the UDF argument
   is a leaf attribute (dedup._hashed_shingle_frame) — must keep working,
   and the known-bad shape is pinned here so a refactor or Spark upgrade
   can't silently re-trip it without a test noticing.

2. minhash_signature_numpy reduceat chunk boundaries: single document
   larger than the sub-chunk hash budget, all-empty batches, and empties
   interleaved at chunk edges.

3. embedding_neardup_pairs NULL-vector guard (advice r12): a NULL first
   vector must raise a clear ValueError, not degenerate the LSH route.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# -- 1. let_bound fed to a pandas UDF ---------------------------------------


def _letbound_shingle_frame(spark):
    from mesin_spark.ext.dedup import shingle_hashes

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(50)],
        "doc_id long, text string",
    )
    # the known-bad shape: _h is a let-bound tree (nested lambdas), NOT a
    # checkpointed leaf attribute
    return df.select(
        F.col("doc_id").alias("_id"), shingle_hashes(F.col("text"), 3).alias("_h")
    )


def test_letbound_direct_udf_arg_known_bad_shape(spark):
    """Pin the bad shape: let-bound column directly as a pandas-UDF arg.

    The failure is ORDER-DEPENDENT (it needs earlier session activity to
    shift expression-ID allocation), so success here does not prove the
    bug is gone — but if it raises, it must be the documented
    UDF-extraction INTERNAL error, not something new. Either outcome
    passes; an unexpected error type fails the test."""
    from mesin_spark.ext.dedup import minhash_signature_numpy

    frame = _letbound_shingle_frame(spark)
    try:
        rows = frame.select(
            "_id", minhash_signature_numpy(64)(F.col("_h")).alias("_sig")
        ).collect()
        assert len(rows) == 50  # worked this time (ordering didn't trip it)
    except Exception as exc:  # noqa: BLE001 — the documented fragility
        msg = str(exc)
        assert "Cannot evaluate expression" in msg or "INTERNAL" in msg, (
            "let-bound→pandas-UDF raised something OTHER than the "
            f"documented UDF-extraction internal error: {msg[:300]}"
        )


def test_letbound_checkpointed_udf_arg_always_works(spark):
    """The guarded shape (_hashed_shingle_frame eagerly checkpoints, so
    the UDF argument is a leaf attribute) must always evaluate."""
    from mesin_spark.ext.dedup import (
        _hashed_shingle_frame,
        minhash_signature_from_hashes,
        minhash_signature_numpy,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(50)],
        "doc_id long, text string",
    )
    hashed = _hashed_shingle_frame(df, "doc_id", "text", 3)
    got = {
        r._id: list(r.s)
        for r in hashed.select(
            "_id", minhash_signature_numpy(64)(F.col("_h")).alias("s")
        ).collect()
    }
    want = {
        r._id: list(r.s)
        for r in hashed.select(
            "_id", minhash_signature_from_hashes(F.col("_h"), 64).alias("s")
        ).collect()
    }
    assert got == want and len(got) == 50


# -- 2. reduceat chunk boundaries -------------------------------------------


def _reference_sig(hashes, num_perm=64):
    """Independent per-document reference of the minhash arithmetic
    (plain one-doc-at-a-time numpy — no concatenate/reduceat batching)."""
    from mesin_spark.ext.dedup import _MERSENNE, _perm_params

    params = _perm_params(num_perm)
    if not hashes:
        return [_MERSENNE] * num_perm
    h = np.asarray(hashes, dtype=np.uint64)
    A = np.array([p[0] for p in params], dtype=np.uint64)
    B = np.array([p[1] for p in params], dtype=np.uint64)
    m = (h[:, None] * A[None, :] + B[None, :]) % np.uint64(_MERSENNE)
    return m.min(axis=0).astype(np.int64).tolist()


def _run_numpy_sig(spark, docs, num_perm=64):
    """docs: list of (id, [hash,...]); returns {id: signature}."""
    from mesin_spark.ext.ckpt import ckpt

    df = spark.createDataFrame(docs, "_id long, _h array<long>").coalesce(1)
    df = ckpt(df, eager=True)  # leaf attribute into the UDF (guard above)
    from mesin_spark.ext.dedup import minhash_signature_numpy

    return {
        r._id: list(r.s)
        for r in df.select(
            "_id", minhash_signature_numpy(num_perm)(F.col("_h")).alias("s")
        ).collect()
    }


def test_reduceat_single_doc_exceeds_chunk(spark):
    """One document's hash array alone is bigger than the ~48 MB sub-chunk
    budget (chunk_hashes = 48 MiB / (num_perm·8) = 98304 at num_perm=64):
    it must be admitted alone and produce the exact per-doc minima."""
    rng = np.random.default_rng(7)
    big = rng.integers(0, 1 << 31, size=120_000, dtype=np.int64).tolist()
    small = rng.integers(0, 1 << 31, size=5, dtype=np.int64).tolist()
    got = _run_numpy_sig(spark, [(1, small), (2, big), (3, small)])
    ref_small = _reference_sig(small)
    assert got[1] == ref_small and got[3] == ref_small
    assert got[2] == _reference_sig(big)


def test_reduceat_all_empty_batch(spark):
    from mesin_spark.ext.dedup import _MERSENNE

    got = _run_numpy_sig(spark, [(i, []) for i in range(10)])
    sentinel = [_MERSENNE] * 64
    assert all(got[i] == sentinel for i in range(10))


def test_reduceat_empties_interleaved(spark):
    """Empty docs at chunk starts/ends must not shift reduceat segment
    starts (the cumsum runs over non-empty docs only)."""
    from mesin_spark.ext.dedup import _MERSENNE

    rng = np.random.default_rng(11)
    docs = []
    for i in range(40):
        if i % 3 == 0:
            docs.append((i, []))
        else:
            docs.append(
                (i, rng.integers(0, 1 << 31, size=1 + i, dtype=np.int64).tolist())
            )
    got = _run_numpy_sig(spark, docs)
    for i, hs in docs:
        if hs:
            assert got[i] == _reference_sig(hs), f"doc {i}"
        else:
            assert got[i] == [_MERSENNE] * 64, f"doc {i}"


# -- verify-join shuffle restructure (round 13): all routes identical -------


def test_gram_verify_shuffle_routes_identical(spark, monkeypatch):
    """The round-13 shuffle-route restructure (broadcast the checkpointed
    candidate pairs + semi-prune the container gram side) and its
    past-the-cutoff fallback (the old double-pinned shape) must return
    identical pairs to the broadcast route. The bounded pair-count probe
    is pinned exactly at its cutoff: n candidate pairs at 96 B each take
    the pair-broadcast route (read from the plan's leftsemi prune) when
    96·n fits and fall back one byte below it."""
    import mesin_spark.ext.dedup as D

    rows = []
    for i in range(30):
        base = f"alpha beta gamma delta epsilon zeta doc{i % 4} tail{i % 7}"
        rows.append((i, "A" if i % 2 else "B", base))
        if i % 5 == 0:
            rows.append(
                (3000 + i, "A" if i % 2 else "B",
                 base + " " + " ".join(f"pad{i}y{j}" for j in range(25)))
            )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    counts = []
    real = D._gram_verify_join

    def spy(cands, *args):
        counts.append(cands.count())
        return real(cands, *args)

    monkeypatch.setattr(D, "_gram_verify_join", spy)
    # the prefix route without the duplicate collapse
    monkeypatch.setattr(D, "_PREFIX_PAIRS_PER_DOC", -1.0)
    monkeypatch.setattr(D, "_DUP_COLLAPSE_RATIO", float("inf"))

    def run(gram_cut):
        monkeypatch.setattr(D, "_GRAM_BROADCAST_MAX_BYTES", gram_cut)
        out = D.ngram_containment_pairs(df, "doc_id", block_col="src", threshold=0.8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(tuple(r) for r in out.collect()), plan

    got = {"broadcast": run(float("inf"))[0]}
    n = counts[0]
    for label, cut in (("shuffle_new", 96 * n), ("shuffle_fallback", 96 * n - 1)):
        monkeypatch.setattr(D, "_PAIR_BROADCAST_MAX_BYTES", cut)
        got[label], plan = run(-1.0)
        assert ("LeftSemi" in plan) == (label == "shuffle_new"), label
    assert got["broadcast"] == got["shuffle_new"] == got["shuffle_fallback"]
    assert len(got["broadcast"]) > 0


# -- Cauchy-Schwarz verify prefilter: zero false negatives ------------------


def test_cs_prefilter_exact_vs_bruteforce(spark):
    """The round-13 verify prefilter may only drop pairs that provably
    cannot round up to the threshold. Compare the exact all-pairs route
    (which now carries the prefilter) against a brute-force cosine with
    NO prefilter, at a low threshold that puts many pairs near the
    boundary, on vectors with energy concentrated in the TAIL (the
    prefilter's weakest case: prefix dot ~0, bound dominated by rest
    norms). Dims around and below the 16-term prefix (2, 15, 16, 17)
    pin the short-vector path: the prefix terms past a vector's end must
    read as 0 — under ANSI a raw element_at there throws."""
    import random

    from mesin_spark.ext.similarity import (
        _as_double, dot, embedding_neardup_pairs, norm,
    )
    from mesin_spark.functions import stable_round as R

    # one block per dim (pairs never cross blocks), so one job covers all
    rng = random.Random(13)
    rows = []
    for k, dim in enumerate((64, 2, 15, 16, 17)):
        for i in range(60):
            head = [rng.uniform(-0.05, 0.05) for _ in range(min(dim, 16))]
            tail = [rng.uniform(-1, 1) for _ in range(dim - 16)]
            rows.append((1000 * k + i, f"d{dim}", head + tail))
    df = spark.createDataFrame(rows, "id long, blk string, v array<double>")
    got = sorted(
        tuple(r)
        for r in embedding_neardup_pairs(
            df, threshold=0.3, block_col="blk", id_col="id", vec_col="v",
            candidates=False,
        ).collect()
    )
    # brute force in the same engine arithmetic, no prefilter
    a = df.select(F.col("id").alias("id_a"), F.col("blk").alias("blk_a"),
                  _as_double(F.col("v")).alias("va"))
    b = df.select(F.col("id").alias("id_b"), F.col("blk").alias("blk_b"),
                  _as_double(F.col("v")).alias("vb"))
    sim = R(dot(F.col("va"), F.col("vb"))
            / (norm(F.col("va")) * norm(F.col("vb"))), 6)
    want = sorted(
        tuple(r)
        for r in a.join(b, F.col("blk_a") == F.col("blk_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.3)
        .collect()
    )
    assert got == want
    # every dim contributes boundary-region pairs
    assert {a // 1000 for a, _b, _s in want} == set(range(5))


# -- 3. NULL-vector guard ----------------------------------------------------


def test_embedding_neardup_null_vector_raises(spark):
    from mesin_spark.ext.similarity import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(1, "b", None), (2, "b", None)],
        "id long, blk string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL"):
        embedding_neardup_pairs(
            df, id_col="id", vec_col="embedding", block_col="blk", candidates=True
        )
