"""Quality assertions for the approximate LLM-pipeline operators — the
checks the value-hash oracle can't do: planted-duplicate detection for the
sketch dedups, recall for LSH ANN, classifier sanity for lang-id,
determinism for fingerprints, stub contracts for multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mesin_spark.ext import dedup as D
from mesin_spark.ext import multimodal as M
from mesin_spark.ext import similarity as S
from mesin_spark.ext import text as TX
from mesin_spark.queries import T
from tests.conftest import SF_DIR, force_edge_route


@pytest.fixture(scope="module")
def docs(spark):
    return T(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return T(spark, SF_DIR, "embeddings")


def test_minhash_finds_planted_duplicates(spark, docs):
    base = docs.select("doc_id", "text").limit(50)
    dup = base.union(base.withColumn("doc_id", F.col("doc_id") + 10000))
    pairs = D.minhash_lsh_dedup(dup, "doc_id", threshold=0.9).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(r.doc_id, r.doc_id + 10000) for r in base.collect()}
    # identical docs have identical signatures in every band → must all surface
    assert expected <= found
    assert all(r.jaccard == 1.0 for r in pairs if (r.id_a, r.id_b) in expected)


def test_embedding_neardup_finds_planted_clones(spark, emb):
    """embedding_neardup_pairs at the production 0.99 threshold must
    surface planted exact clones within a label block and must NOT pair
    across blocks (blocking semantics) — the operator's own recall
    property, independent of the fixture-calibrated q_dedup_embed
    threshold (the synthetic embeddings have no natural near-dups)."""
    # orderBy before limit: an unordered limit is evaluated independently
    # in the pairs computation and in the expected-set collect below, and
    # Spark may pick different rows each time (flaky expected-set)
    base = emb.select("vec_id", "label", "embedding").orderBy("vec_id").limit(20)
    clones = base.withColumn("vec_id", F.col("vec_id") + 100000)
    cross = base.withColumn("vec_id", F.col("vec_id") + 200000).withColumn(
        "label", F.col("label") + 1000000
    )
    df = base.union(clones).union(cross)
    pairs = S.embedding_neardup_pairs(df, threshold=0.99).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(r.vec_id, r.vec_id + 100000) for r in base.collect()}
    assert expected <= found  # every planted same-block clone surfaces
    assert all(r.sim >= 0.99 for r in pairs)
    # identical vectors in a DIFFERENT block never pair
    assert not any(b >= 200000 for _a, b in found)


def test_simhash_identical_docs_zero_hamming(spark, docs):
    base = docs.select("doc_id", "text").limit(50)
    dup = base.union(base.withColumn("doc_id", F.col("doc_id") + 10000))
    pairs = D.simhash_dedup(dup, "doc_id", max_hamming=0).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(r.doc_id, r.doc_id + 10000) for r in base.collect()}
    assert expected <= found


def test_simhash_mutation_within_small_hamming(spark):
    text = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, text), (2, text + " extra"), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.s for r in df.select("doc_id", D.simhash64("text").alias("s")).collect()}
    ham12 = bin(sigs[1] ^ sigs[2]).count("1")
    ham13 = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham12 < ham13  # near-dup closer than unrelated


def test_exact_dedup_counts(spark, docs):
    base = docs.select("doc_id", "text").limit(20)
    tripled = base.union(base.withColumn("doc_id", F.col("doc_id") + 100)).union(
        base.withColumn("doc_id", F.col("doc_id") + 200)
    )
    out = D.exact_dedup(tripled, ["text"], "doc_id").collect()
    assert len(out) == 20
    assert all(r.n_copies == 3 for r in out)


def test_lsh_ann_recall(spark, emb):
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = {r.vec_id for r in S.brute_force_topk(emb, qvec, k=10).collect()}
    approx = {r.vec_id for r in S.lsh_topk(emb, qvec, k=10).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_ann_recall_and_pruning(spark, emb):
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = {r.vec_id for r in S.brute_force_topk(emb, qvec, k=10).collect()}
    out = S.ivf_topk(emb, qvec, k=10).collect()
    approx = {r.vec_id for r in out}
    assert len(out) == 10
    # query vector is in the corpus: its own list is always probed first
    assert 0 in approx
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_assignment_deterministic(spark, emb):
    C = S.ivf_centroids(emb, n_list=8)
    a = {r.vec_id: r.l for r in emb.select("vec_id", S.ivf_assign(C).alias("l")).collect()}
    b = {r.vec_id: r.l for r in emb.select("vec_id", S.ivf_assign(C).alias("l")).collect()}
    assert a == b
    assert all(0 <= v < 8 for v in a.values())


def test_cosine_self_similarity(spark, emb):
    row = emb.limit(1).select(
        S.cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).head()
    assert abs(row.c - 1.0) < 1e-9


def test_lang_id_respects_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "le chat et la maison des amis"),
            (3, "el perro de la casa y los gatos"),
            (4, "der hund und die katze von haus"),
            (5, "zzz qqq xxx"),
        ],
        "id long, text string",
    )
    out = {r.id: r.lang for r in df.select("id", TX.lang_id("text").alias("lang")).collect()}
    assert out == {1: "en", 2: "fr", 3: "es", 4: "de", 5: "und"}


def test_fingerprint_deterministic_and_discriminative(spark, docs):
    a = {r.doc_id: r.fp for r in docs.select("doc_id", TX.fingerprint("text").alias("fp")).collect()}
    b = {r.doc_id: r.fp for r in docs.select("doc_id", TX.fingerprint("text").alias("fp")).collect()}
    assert a == b
    assert len(set(a.values())) > len(a) * 0.9  # few collisions


def test_quality_score_bounds(spark, docs):
    vals = [r.q for r in docs.select(TX.quality_score("text").alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_bpe_estimate_at_least_whitespace_count(spark, docs):
    rows = docs.select(
        TX.token_count("text").alias("ws"), TX.bpe_token_estimate("text").alias("bpe")
    ).collect()
    assert all(r.bpe >= r.ws for r in rows)


def test_dedup_clusters_chains(spark):
    # chain a-b-c plus isolated pair d-e: clusters {1,2,3}->1 and {10,11}->10
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r.node: r.canonical_id for r in D.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_prepartition_route_equality(spark, monkeypatch):
    """Every measured edge route (ext/measure.edge_route, forced through
    its constants) moves exchanges, never semantics: AQE rounds or the
    pinned edge table (one up-front repartition+pin instead of one
    exchange per pointer-jump round), with the labels broadcast (edges
    pinned by src) or shuffled (pinned by dst), return identical cluster
    maps, and string ids size via measured octet lengths without error."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8), (20, 21), (30, 30)],
        "id_a long, id_b long",
    )
    want = sorted(map(tuple, D.dedup_clusters(pairs).collect()))
    assert dict(want)[8] == 1 and dict(want)[21] == 20
    for pin in (False, True):
        for broadcast in (False, True):
            keys = force_edge_route(monkeypatch, pin, broadcast)
            assert sorted(map(tuple, D.dedup_clusters(pairs).collect())) == want
            assert keys == ([("src" if broadcast else "dst")] if pin else [])
    # string keys exercise the octet-length branch of row_bytes_expr
    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    souts = {}
    for pin in (False, True):
        force_edge_route(monkeypatch, pin, True)
        souts[pin] = sorted(map(tuple, D.dedup_clusters(spairs).collect()))
    assert souts[False] == souts[True]
    assert dict(souts[True])["c"] == "a"


def test_hash_split_deterministic_and_fractional(spark, docs):
    from mesin_spark.ext import pipeline as P

    a = {r.doc_id: r.split for r in P.hash_split(docs, "doc_id").collect()}
    b = {r.doc_id: r.split for r in P.hash_split(docs, "doc_id").collect()}
    assert a == b
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.85 < frac < 0.95


def test_stratified_sample_fractions_and_stability(spark, docs):
    from mesin_spark.ext import pipeline as P

    d = docs.select("doc_id", "source")
    out = P.stratified_sample(d, "source", {"src0": 1.0, "src1": 0.5}, "doc_id", 0.1)
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in out.collect()}
    assert a == b
    n_src0_all = d.filter("source = 'src0'").count()
    n_src0_kept = out.filter("source = 'src0'").count()
    assert n_src0_kept == n_src0_all  # fraction 1.0 keeps everything
    # adding rows never flips existing assignments
    half = P.stratified_sample(
        d.filter("doc_id < 250"), "source", {"src0": 1.0, "src1": 0.5}, "doc_id", 0.1
    )
    assert {r.doc_id for r in half.collect()} == {i for i in a if i < 250}


def test_scrub_text_redacts(spark):
    from mesin_spark.ext import pipeline as P

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@example.org or call +1 (555) 123-4567 now")],
        "id long, text string",
    )
    out = df.select(P.scrub_text("text").alias("t")).head().t
    assert "[EMAIL]" in out and "[PHONE]" in out
    assert "example.org" not in out and "555" not in out


def test_chunk_documents_covers_all_tokens(spark):
    from mesin_spark.ext import pipeline as P
    from mesin_spark.ext.text import tokens as TKS

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    chunks = P.chunk_documents(df, chunk_tokens=64, stride=48).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 150 tokens -> starts 0,48,96 -> 3 chunks; last partial has 54
    assert [r.n_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [64, 64, 54]
    # every token of doc 1 appears in some chunk
    covered = set()
    for r in by_doc[1]:
        covered.update(r.chunk_text.split())
    assert covered == {f"w{i}" for i in range(150)}
    assert by_doc[2][0].n_tokens == 2


# -- multimodal ------------------------------------------------------------
def test_multimodal_features_deterministic(spark, docs):
    feats = M.extract_features(M.attach_binary(docs.limit(20))).collect()
    by_id = {r.doc_id: r for r in feats}
    src = {r.doc_id: r.text for r in docs.limit(20).collect()}
    for i, r in by_id.items():
        payload = src[i].encode()
        assert r.n_bytes == len(payload)
        assert r.checksum == sum(payload) % (1 << 31)
        assert r.format == "txt"


def test_multimodal_bad_payload_flags_not_raises(spark):
    # per-record poison-pill isolation: a payload that can't decode flags
    # its row via the error column instead of killing the job
    df = spark.createDataFrame([(1, bytearray(b"xx"))], "doc_id long, payload binary").select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("jpeg").alias("format"),
            F.lit(2).alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("media"),
    )
    rows = M.extract_features(df).collect()
    assert len(rows) == 1
    assert rows[0].error is not None and "ValueError" in rows[0].error
    assert rows[0].n_bytes is None and rows[0].checksum is None


def test_multimodal_codec_boundaries_marked(spark, docs):
    mm = M.attach_binary(docs.limit(1))
    # formats still needing a native codec raise a clearly-marked
    # NotImplementedError (jpeg graduated to a real pure-Python codec)
    with pytest.raises(NotImplementedError, match="codec"):
        M._decode_payload("mp4", b"\x00\x00\x00\x18ftyp")
    # jpeg now decodes for real: a round-trip through the T.81 codec
    import numpy as np

    from mesin_spark.ext.jpeg import make_jpeg_payload

    px = np.full((8, 8, 3), 128, np.uint8)
    raw = M._decode_payload("jpeg", make_jpeg_payload(px))
    assert len(raw) == 8 * 8 * 3
    # frame_sample and resize are real for MPPM/PPM payloads; txt payloads
    # fail in the decoder per-record and land in the error column (the
    # job completes — poison-pill isolation)
    fs = M.frame_sample(mm).collect()
    assert all(r.error is not None and r.n_frames is None for r in fs)
    rz = M.resize_images(mm, 64, 64).collect()
    assert all(r.error is not None and r.payload is None for r in rz)


# -- scale guardrails (round-2: hot-bucket caps, cluster convergence) ------
def _planted_hot_set(spark, n_hot: int):
    """n_hot identical docs (a degenerate bucket) plus one genuine
    near-dup pair with distinct content."""
    hot = [(i, "common boilerplate text repeated verbatim in every document here") for i in range(n_hot)]
    pair = [
        (9001, "a genuinely unique sentence about distributed query planning today"),
        (9002, "a genuinely unique sentence about distributed query planning today"),
    ]
    return spark.createDataFrame(hot + pair, "doc_id long, text string")


def test_simhash_hot_chunk_bucket_capped(spark):
    df = _planted_hot_set(spark, 100)
    pairs = D.simhash_dedup(df, "doc_id", max_hamming=0, max_bucket=64).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # the 100-doc degenerate bucket exceeds max_bucket → contributes ZERO
    # candidates (not C(100,2)); the small genuine pair still surfaces
    assert (9001, 9002) in found
    assert all(a >= 9001 for a, _ in found)
    # raising the cap restores the hot cluster's pairs
    pairs_hi = D.simhash_dedup(df, "doc_id", max_hamming=0, max_bucket=512).collect()
    assert len(pairs_hi) == 100 * 99 // 2 + 1


def test_lsh_band_bucket_capped_before_collect(spark):
    df = _planted_hot_set(spark, 100)
    cands = D.minhash_lsh_candidates(df, "doc_id", max_bucket=64)
    found = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (9001, 9002) in found
    assert all(a >= 9001 for a, _ in found)
    # the cap must be applied BEFORE any bucket id-array is materialized:
    # the spillable count window and its size filter sit upstream of (below,
    # later in the tree string than) the collect_list window, and no
    # aggregate collects ids at all
    import re

    plan = cands._jdf.queryExecution().executedPlan().toString()
    collect_win = plan.index("Window [collect_list(")
    cap = re.search(r"Filter \(\(_n#\d+L >= 2\) AND \(_n#\d+L <= 64\)\)", plan)
    count_win = plan.index("Window [count(1)")
    assert cap is not None, "bucket-size cap filter missing from the plan"
    assert collect_win < cap.start() < count_win, (
        "count-window cap filter must be below (after) the collect_list window"
    )
    assert "ObjectHashAggregate" not in plan
    small = D.minhash_lsh_candidates(df, "doc_id", max_bucket=512)
    assert small.count() == 100 * 99 // 2 + 1


def test_dedup_clusters_deep_chain_converges(spark):
    # 50-node chain: pointer jumping converges in ~log2(50) rounds, well
    # inside the default max_iter, with periodic localCheckpoint keeping the
    # plan flat
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 50)], "id_a long, id_b long"
    )
    out = {r.node: r.canonical_id for r in D.dedup_clusters(pairs).collect()}
    assert out == {i: 1 for i in range(1, 51)}


def test_ivf_kmeans_centroids_recover_clusters(spark):
    # on CLUSTERED data (the real embedding-corpus shape) the sampled
    # k-means quantizer must recover the true centers — the property the
    # old lowest-id placeholder had no reason to satisfy — and recall
    # inside probed lists becomes near-exact
    import numpy as np

    rng = np.random.default_rng(7)
    centers = np.stack([c / np.linalg.norm(c) for c in rng.normal(size=(4, 16))])
    rows = []
    for i in range(400):
        v = centers[i % 4] + 0.05 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    C = S.ivf_centroids(emb, n_list=4, n_iter=10)
    # every true center has a learned centroid at cosine > 0.98
    best = (C @ centers.T).max(axis=0)
    assert (best > 0.98).all(), best
    # determinism across runs
    C2 = S.ivf_centroids(emb, n_list=4, n_iter=10)
    assert np.array_equal(C, C2)
    # recall with 1 probe out of 4 lists: clustered data → near-exact
    qvec = rows[0][1]
    exact = {r.vec_id for r in S.brute_force_topk(emb, qvec, k=10).collect()}
    approx = {
        r.vec_id for r in S.ivf_topk(emb, qvec, k=10, n_list=4, n_probe=1).collect()
    }
    assert len(exact & approx) / 10 >= 0.9


# -- real pure-Python codecs (WAV / PPM) -----------------------------------
def test_wav_roundtrip_and_features(spark):
    import math

    import numpy as np

    sr = 8000
    samples = [int(10000 * math.sin(2 * math.pi * 440 * i / sr)) for i in range(sr // 2)]
    payload = M.make_wav_payload(samples, sample_rate=sr)
    data, meta = M.decode_wav(payload)
    assert meta["n_samples"] == len(samples)
    assert meta["sample_rate"] == sr
    assert abs(meta["duration_s"] - 0.5) < 1e-9
    expect_rms = float(np.sqrt(np.mean(np.array(samples, dtype=np.float64) ** 2)))
    assert abs(meta["rms"] - expect_rms) < 1e-6

    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    row = M.extract_audio_features(df).collect()[0]
    assert row.n_samples == len(samples) and row.sample_rate == sr
    assert abs(row.rms - expect_rms) < 1e-6
    assert row.error is None

    # a non-RIFF payload in the same batch flags its row, never the job
    df2 = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"not audio at all"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in M.extract_audio_features(df2).collect()}
    assert rows[1].error is None and rows[1].sample_rate == sr
    assert rows[2].error is not None and rows[2].n_samples is None

    # through the generic feature extractor with format='wav'
    mm = df.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("wav").alias("format"),
            F.octet_length("payload").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(0.5).alias("duration_s"),
        ).alias("media"),
    )
    feat = M.extract_features(mm).collect()[0]
    assert feat.format == "wav" and feat.n_bytes == 2 * len(samples)


def test_ppm_roundtrip_resize_and_features(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
    payload = M.make_ppm_payload(px)
    decoded, meta = M.decode_ppm(payload)
    assert meta == {"width": 6, "height": 8}
    assert np.array_equal(decoded, px)
    # comment-tolerant header parse
    commented = b"P6\n# a comment\n6 8\n255\n" + px.tobytes()
    assert np.array_equal(M.decode_ppm(commented)[0], px)

    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    out = M.resize_images(df, 3, 4).collect()[0]
    assert (out.width, out.height) == (3, 4)
    rpx, rmeta = M.decode_ppm(bytes(out.payload))
    assert rmeta == {"width": 3, "height": 4}
    # nearest-neighbor: every output pixel exists in the source
    src = {tuple(p) for p in px.reshape(-1, 3)}
    assert all(tuple(p) in src for p in rpx.reshape(-1, 3))

    mm = df.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("ppm").alias("format"),
            F.octet_length("payload").alias("n_bytes"),
            F.lit(6).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("media"),
    )
    feat = M.extract_features(mm).collect()[0]
    assert feat.n_bytes == 8 * 6 * 3
    assert abs(feat.feature_mean - float(px.mean())) < 1e-9


def test_minhash_portable_captures_planted_dups(spark):
    """Identical texts share every band deterministically, so ALL planted
    (id, id+1e6) exact-duplicate pairs must surface with jaccard 1.0 —
    and the portable arithmetic makes the whole pair list reproducible
    (the oracle comparison is exact; here we pin the recall floor)."""
    from mesin_spark.ext.dedup import minhash_lsh_portable
    from mesin_spark.queries import T

    import pyspark.sql.functions as F

    d = T(spark, SF_DIR, "documents").select("doc_id", "text")
    dup = d.union(d.withColumn("doc_id", F.col("doc_id") + 1000000))
    pairs = minhash_lsh_portable(dup, "doc_id", threshold=0.7)
    planted = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1000000) & (F.col("jaccard") == 1.0)
    )
    n_docs = d.count()
    # every doc whose LSH bucket wasn't capped must pair with its clone;
    # with distinct texts buckets hold ~2 rows, far under the cap
    assert planted.count() == n_docs


def test_simhash_portable_captures_planted_dups(spark):
    """Identical texts have identical portable signatures, so every
    planted (id, id+1e6) pair must surface at hamming 0 (bucket caps
    permitting — distinct texts keep chunks ~2-deep)."""
    from mesin_spark.ext.dedup import simhash_portable_dedup
    from mesin_spark.queries import T

    import pyspark.sql.functions as F

    d = T(spark, SF_DIR, "documents").select("doc_id", "text")
    dup = d.union(d.withColumn("doc_id", F.col("doc_id") + 1000000))
    pairs = simhash_portable_dedup(dup, "doc_id")
    planted = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1000000) & (F.col("hamming") == 0)
    )
    assert planted.count() == d.count()


def test_ann_portable_ranks_bucket_exactly(spark):
    """Portable-LSH top-k: every returned row must carry the query's
    bucket signature, scores must equal the exact cosine (checked
    against brute force over the full corpus restricted to the bucket
    members), and ranking is (sim desc, id asc)."""
    import pyspark.sql.functions as F

    from mesin_spark.ext.similarity import (
        brute_force_topk,
        portable_lsh_signature,
        portable_lsh_topk,
        query_vector,
    )
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    res = portable_lsh_topk(emb, query_id=0, k=10, n_planes=4).collect()
    assert 0 < len(res) <= 10
    sims = [r["sim"] for r in res]
    assert sims == sorted(sims, reverse=True)
    # exact-cosine agreement: the same ids scored by brute force give
    # identical rounded sims
    qvec = query_vector(emb, 0)
    bf = {r["vec_id"]: r["sim"] for r in brute_force_topk(emb, qvec, k=10000).collect()}
    for r in res:
        assert bf[r["vec_id"]] == r["sim"]
    # bucket purity: all results share the query's signature
    sig = portable_lsh_signature(F.col("embedding"), 4, 64)
    sigs = {r["vec_id"]: r["s"] for r in emb.select("vec_id", sig.alias("s")).collect()}
    for r in res:
        assert sigs[r["vec_id"]] == sigs[0]


def test_ivf_portable_ranks_probed_lists_exactly(spark):
    """Portable IVF: deterministic across invocations, scores equal the
    exact cosine, and every returned id's assigned list is one of the
    query's probed lists."""
    from mesin_spark.ext.similarity import (
        brute_force_topk,
        ivf_portable_topk,
        query_vector,
    )
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    r1 = [(r["vec_id"], r["sim"]) for r in ivf_portable_topk(emb).collect()]
    r2 = [(r["vec_id"], r["sim"]) for r in ivf_portable_topk(emb).collect()]
    assert r1 == r2 and 0 < len(r1) <= 10
    sims = [s for _, s in r1]
    assert sims == sorted(sims, reverse=True)
    qvec = query_vector(emb, 0)
    bf = {r["vec_id"]: r["sim"] for r in brute_force_topk(emb, qvec, k=10000).collect()}
    for vid, s in r1:
        assert bf[vid] == s


def test_nfc_normalize_composes_and_is_idempotent(spark):
    from pyspark.sql import functions as F

    from mesin_spark.ext.text import nfc_normalize

    rows = [
        (1, "cafe\u0301"),  # decomposed: e + COMBINING ACUTE (5 codepoints)
        (2, "caf\u00e9"),   # already composed (4 codepoints)
        (3, None),           # null passthrough
        (4, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "id bigint, t string")
    out = (
        df.select(
            "id",
            nfc_normalize("t").alias("n1"),
            nfc_normalize(nfc_normalize("t")).alias("n2"),
        )
        .orderBy("id")
        .collect()
    )
    assert out[0]["n1"] == "caf\u00e9"      # composed
    assert out[0]["n1"] == out[1]["n1"]     # forms hash-identical post-NFC
    assert out[2]["n1"] is None
    assert out[3]["n1"] == "plain ascii"
    assert all(r["n1"] == r["n2"] for r in out)  # idempotent


def test_tfidf_pair_sims_hand_computed(spark):
    import math

    from mesin_spark.ext.text import tfidf_pair_sims

    # 3 docs over a 3-term vocab; doc 3 shares no informative term with 1
    docs = [
        (1, "apple banana apple"),
        (2, "apple banana"),
        (3, "cherry cherry"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in tfidf_pair_sims(df, threshold=0.0).collect()
    }
    # idf: apple ln(3/2), banana ln(3/2), cherry ln(3/1)
    ia = math.log(3 / 2)
    w1 = {"apple": 2 * ia, "banana": 1 * ia}
    w2 = {"apple": 1 * ia, "banana": 1 * ia}
    dot = w1["apple"] * w2["apple"] + w1["banana"] * w2["banana"]
    n1 = math.sqrt(sum(v * v for v in w1.values()))
    n2 = math.sqrt(sum(v * v for v in w2.values()))
    assert set(got) == {(1, 2)}  # cherry-only doc 3 shares no term
    assert abs(got[(1, 2)] - round(dot / (n1 * n2), 6)) < 2e-6
    # max_df ceiling: dropping terms with df > 1 leaves no shared terms
    assert tfidf_pair_sims(df, threshold=0.0, max_df=1).count() == 0


def test_embedding_neardup_lsh_route_clone_recall(spark, emb):
    """The LSH sub-blocking route (candidates=True) must surface EVERY
    planted identical clone: identical vectors fold to identical band
    signatures, so clone recall through the bucketed candidate join is
    exact, not probabilistic — the recall floor q_dedup_embed's auto
    route stands on. Cross-block identical vectors must still never
    pair (LSH sub-blocks WITHIN the caller's block key, it does not
    replace it)."""
    base = emb.select("vec_id", "label", "embedding").orderBy("vec_id").limit(30)
    clones = base.withColumn("vec_id", F.col("vec_id") + 100000)
    cross = base.withColumn("vec_id", F.col("vec_id") + 200000).withColumn(
        "label", F.col("label") + 1000000
    )
    df = base.union(clones).union(cross)
    pairs = S.embedding_neardup_pairs(
        df, threshold=0.99, candidates=True, lsh_bands=4, lsh_rows=4
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(r.vec_id, r.vec_id + 100000) for r in base.collect()}
    assert expected <= found
    assert all(r.sim >= 0.99 for r in pairs)
    assert not any(b >= 200000 for _a, b in found)
    with pytest.raises(ValueError, match="candidates must be"):
        S.embedding_neardup_pairs(df, candidates="yes")


def test_embedding_neardup_auto_routing_by_occupancy(spark, emb):
    """candidates='auto' measures block occupancy and routes: a small
    corpus keeps the exact all-pairs plan (salt-explode Generate, no
    posexplode of band signatures), a fat block flips to the LSH
    bucketed path — and on a corpus whose only ≥0.99 pairs are planted
    identical clones, BOTH routes return the identical pair set (the
    q_dedup_embed situation: max natural within-label cosine ~0.5)."""
    base = emb.select("vec_id", "label", "embedding").orderBy("vec_id").limit(60)
    fat = base.withColumn("label", F.lit(0))  # one block, occupancy 120
    df = fat.union(
        fat.withColumn("vec_id", F.col("vec_id") + 100000)
    )
    # crossing the cliff changes semantics (exact -> ~98%-recall LSH),
    # so unlike every other auto route it demands the explicit opt-in
    with pytest.raises(ValueError, match="approx_ok"):
        S.embedding_neardup_pairs(
            df, threshold=0.99, candidates="auto", auto_pairs_per_doc=8.0
        )
    routed = S.embedding_neardup_pairs(
        df, threshold=0.99, candidates="auto",
        auto_pairs_per_doc=8.0, lsh_bands=4, approx_ok=True,
    )
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "posexplode" in plan, plan[:500]
    got = sorted((r.id_a, r.id_b, r.sim) for r in routed.collect())
    want = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in S.embedding_neardup_pairs(
            df, threshold=0.99, candidates=False
        ).collect()
    )
    assert got == want and len(got) == 60  # one clone pair per base row

    thin = S.embedding_neardup_pairs(
        df.limit(5), threshold=0.99, candidates="auto", auto_pairs_per_doc=8.0
    )
    assert "posexplode" not in thin._jdf.queryExecution().optimizedPlan().toString()


def test_leakage_safe_split_invariants(spark):
    """leakage_safe_split: (1) every member of a duplicate cluster gets
    the SAME split — the invariant plain hash_split violates (asserted:
    the planted clone pairs straddle hash_split's cut somewhere on this
    fixture, proving the operator isn't vacuously equal to it);
    (2) singleton clusters split exactly like hash_split (same bucket
    arithmetic on the same id); (3) train fraction lands near 0.9."""
    from mesin_spark.ext.pipeline import hash_split, leakage_safe_split

    d = spark.createDataFrame(
        [(i, f"text body number {i}") for i in range(400)]
        + [(10_000 + i, f"text body number {i}") for i in range(0, 400, 3)],
        "doc_id long, text string",
    )
    out = leakage_safe_split(d, "doc_id", "text").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == len(by_id) == 534
    # (1) clone pairs always agree
    for i in range(0, 400, 3):
        assert by_id[i]["split"] == by_id[10_000 + i]["split"]
        assert by_id[10_000 + i]["cluster_id"] == i
    # ...while hash_split's independent buckets split some pair apart
    hs = {r["doc_id"]: r["split"] for r in hash_split(
        d.select("doc_id"), "doc_id").collect()}
    assert any(hs[i] != hs[10_000 + i] for i in range(0, 400, 3))
    # (2) singleton clusters reduce to hash_split on the id
    for i in range(1, 400, 3):
        if i % 3 != 0:
            assert by_id[i]["split"] == hs[i] and by_id[i]["cluster_id"] == i
    # (3) cluster-level train share near frac_train
    clusters = {r["cluster_id"]: r["split"] for r in out}
    share = sum(s == "train" for s in clusters.values()) / len(clusters)
    assert 0.84 < share < 0.96, share


def test_ngram_novelty_planted_properties(spark):
    """ngram_novelty: the corpus's first doc debuts all its grams
    (novelty 1); a verbatim later clone debuts none (novelty 0); a doc
    mixing one old and one new bigram scores the exact fraction; <2-token
    docs are excluded."""
    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # grams: 'alpha beta','beta gamma'
            (2, "alpha beta gamma"),          # clone -> 0.0
            (3, "alpha beta delta epsilon"),  # 1 old, 2 new -> 2/3
            (4, "solo"),                      # <2 tokens -> excluded
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.ngram_novelty(d).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["novelty"] == 1.0 and out[1]["n_grams"] == 2
    assert out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 0.666667 and out[3]["n_grams"] == 3


def test_soft_dedup_weights_mass_conservation(spark):
    """soft_dedup_weights: each duplicate cluster's weights sum to 1
    (gradient-mass conservation — the property that makes reweighting
    equivalent to dedup in expectation), singletons get weight 1.0, and
    every row is KEPT (the distinction from exact_dedup)."""
    from mesin_spark.ext.pipeline import soft_dedup_weights

    d = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(21)]      # 7 clusters of 3
        + [(100 + i, f"unique {i}") for i in range(5)],  # 5 singletons
        "doc_id long, text string",
    )
    out = soft_dedup_weights(d).collect()
    assert len(out) == 26  # every row kept
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(by_cluster) == 12
    for rows in by_cluster.values():
        assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-5
        assert all(r["n_copies"] == len(rows) for r in rows)
    singles = [r for r in out if r["doc_id"] >= 100]
    assert all(r["weight"] == 1.0 for r in singles)


def test_source_overlap_exact_shares(spark):
    """source_overlap: planted cross-source mirrors yield exact known
    shares; disjoint sources produce NO row (inner join, not a padded
    matrix); within-source duplicates don't inflate counts (distinct
    (source, fp) before pairing)."""
    from mesin_spark.ext.pipeline import source_overlap

    rows = (
        [("A", f"text number {i}") for i in range(10)]
        + [("B", f"text number {i}") for i in range(5)]       # 5 of A's
        + [("B", f"only b {i}") for i in range(5)]            # B total 10
        + [("B", "text number 0")]                            # within-B dup
        + [("C", "nothing shared here")]
    )
    d = spark.createDataFrame(rows, "source string, text string")
    out = {(r["source_a"], r["source_b"]): r for r in source_overlap(d).collect()}
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    assert r["n_shared"] == 5
    assert r["share_of_a"] == 0.5 and r["share_of_b"] == 0.5


def test_simhash_portable_split_pipeline_equals_oneshot(spark):
    """The split projection discipline (round-11: vote fold materialized
    in its own select, chunks packed from the array attribute) must be
    bit-identical to the one-shot composition — the split moves
    evaluation count, never bits."""
    texts = [
        ("a b c d e f g h i j",),
        ("the quick brown fox jumps over the lazy dog again and again",),
        ("x",),
        ("",),
    ]
    df = spark.createDataFrame(texts, ["text"])
    oneshot = [
        tuple(r["ch"])
        for r in df.select(D.simhash_portable_chunks("text").alias("ch")).collect()
    ]
    split = [
        tuple(r["ch"])
        for r in df.select(D.simhash_portable_bits("text").alias("_b"))
        .select(D._pack_chunks("_b").alias("ch"))
        .collect()
    ]
    assert oneshot == split


def test_token_budget_threshold_semantics(spark, docs):
    """Bin-granular budget cut (ext/pipeline.token_budget_threshold):
    full budget keeps everything, zero budget keeps nothing, a half
    budget keeps at least the budget and overshoots by at most the
    boundary bin, and the returned threshold actually reproduces the
    kept set as a doc-level filter."""
    import pytest

    from mesin_spark.ext import pipeline as P
    from mesin_spark.functions import stable_round as R

    full = P.token_budget_threshold(docs, budget_frac=1.0).head()
    assert full["kept_docs"] == full["total_docs"]
    assert full["kept_tokens"] == full["total_tokens"]

    none = P.token_budget_threshold(docs, budget_tokens=0).head()
    assert none["threshold"] is None
    assert none["kept_docs"] == 0 and none["kept_tokens"] == 0
    assert none["total_docs"] == full["total_docs"]

    half = P.token_budget_threshold(docs, budget_frac=0.5).head()
    budget = 0.5 * half["total_tokens"]
    assert half["kept_tokens"] >= budget  # bins keep until budget filled
    # overshoot bounded by the boundary bin's own tokens
    thr = half["threshold"]
    boundary = (
        docs.select(R(TX.quality_score("text"), 6).alias("q"),
                    TX.token_count("text").alias("t"))
        .filter(F.col("q") == thr)
        .agg(F.sum("t").alias("bt"))
        .head()["bt"]
    )
    assert half["kept_tokens"] - budget <= boundary
    # threshold reproduces the kept set as a plain filter
    kept = (
        docs.select(R(TX.quality_score("text"), 6).alias("q"),
                    TX.token_count("text").alias("t"))
        .filter(F.col("q") >= thr)
        .agg(F.count(F.lit(1)).alias("d"), F.sum("t").alias("t"))
        .head()
    )
    assert (kept["d"], kept["t"]) == (half["kept_docs"], half["kept_tokens"])

    with pytest.raises(ValueError, match="exactly one"):
        P.token_budget_threshold(docs)
    with pytest.raises(ValueError, match="budget_frac"):
        P.token_budget_threshold(docs, budget_frac=1.5)


def test_token_budget_full_budget_keeps_zero_token_docs(spark):
    """Round-11 ADVICE edge: with the budget at (or above) the corpus
    total, zero-token docs (empty text) whose cumulative _before already
    EQUALS the exhausted budget must still be kept — budget_frac=1.0
    means kept_docs == total_docs even when the lowest-quality bin is
    token-free. An all-empty corpus (budget 0 >= total 0) keeps all."""
    from mesin_spark.ext import pipeline as P

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "some reasonable middle quality text here"),
         (3, ""), (4, "   ")],
        "doc_id bigint, text string",
    )
    full = P.token_budget_threshold(d, budget_frac=1.0).head()
    assert full["total_docs"] == 4
    assert full["kept_docs"] == 4  # zero-token docs kept at full budget
    assert full["kept_tokens"] == full["total_tokens"]
    over = P.token_budget_threshold(
        d, budget_tokens=int(full["total_tokens"]) + 100
    ).head()
    assert over["kept_docs"] == 4
    # all-empty corpus: total 0, budget 0 — full budget, keep everything
    e = spark.createDataFrame([(1, ""), (2, "")], "doc_id bigint, text string")
    fe = P.token_budget_threshold(e, budget_frac=1.0).head()
    assert fe["kept_docs"] == 2 and fe["total_tokens"] == 0
