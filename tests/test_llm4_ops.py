"""Properties for the llm4 tier: exact crafted-input semantics for span
removal, corpus invariants, and PQ-ANN recall/determinism. The two span
queries' full-output exactness vs DuckDB is covered by test_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_remove_spans_crafted_exact(spark):
    from mesin_spark.ext.spans import remove_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h x"),
            (1, "a b c d e f g h y"),  # first 8 tokens owned by doc 0
            (2, "totally different tokens only here"),
            (3, "a b c d e f g h"),  # nothing but the duplicated span
            (4, "tiny"),  # shorter than w: untouched
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in remove_spans(docs, w=8).collect()}
    assert out[0]["clean_text"] == "a b c d e f g h x"
    assert out[0]["n_removed"] == 0
    assert out[1]["clean_text"] == "y"
    assert out[1]["n_removed"] == 8
    assert out[2]["n_removed"] == 0
    assert out[3]["clean_text"] == ""
    assert out[3]["n_removed"] == 8
    assert out[4]["clean_text"] == "tiny"
    assert out[4]["n_removed"] == 0


def test_remove_spans_overlapping_spans_merge(spark):
    from mesin_spark.ext.spans import remove_spans

    # doc 1 repeats a 9-token run of doc 0: two overlapping 8-shingles;
    # covered positions must merge to 9 removed tokens, not 16
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i"), (1, "z a b c d e f g h i")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in remove_spans(docs, w=8).collect()}
    assert out[1]["clean_text"] == "z"
    assert out[1]["n_removed"] == 9


def test_remove_spans_corpus_invariants(spark):
    import __spark_entry__ as E

    rows = E.queries()["q_span_removal"](spark, SF_DIR).collect()
    assert len(rows) == 500
    min_doc = min(r["doc_id"] for r in rows)
    total_removed = 0
    for r in rows:
        assert 0 <= r["n_removed"] <= r["n_tokens"]
        n_clean = len([t for t in r["clean_text"].split(" ") if t])
        assert n_clean == r["n_tokens"] - r["n_removed"]
        if r["doc_id"] == min_doc:
            assert r["n_removed"] == 0  # the first doc owns its shingles
        total_removed += r["n_removed"]
    assert total_removed > 0  # the synthetic corpus does contain dup spans


def test_span_stats_matches_removal_scale(spark):
    import __spark_entry__ as E

    stats = {
        r["doc_id"]: r for r in E.queries()["q_span_stats"](spark, SF_DIR).collect()
    }
    removal = {
        r["doc_id"]: r
        for r in E.queries()["q_span_removal"](spark, SF_DIR).collect()
    }
    for doc_id, s in stats.items():
        r = removal[doc_id]
        if s["n_dup_spans"] == 0:
            assert r["n_removed"] == 0
        else:
            # w overlapping dup shingles cover between w and dup+w-1 tokens
            assert r["n_removed"] >= 1
            assert r["n_removed"] <= min(
                s["n_dup_spans"] + 8 - 1, r["n_tokens"]
            )


def test_pq_ann_recall_and_determinism(spark):
    from mesin_spark.ext.pq import pq_topk
    from mesin_spark.ext.similarity import brute_force_topk
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx1 = [r["vec_id"] for r in pq_topk(emb, qvec, topk=10).collect()]
    approx2 = [r["vec_id"] for r in pq_topk(emb, qvec, topk=10).collect()]
    assert approx1 == approx2  # seeded end-to-end
    assert 0 in approx1  # the query vector itself must survive quantization
    recall = len(set(exact) & set(approx1)) / 10
    assert recall >= 0.4, f"PQ recall@10 too low: {recall}"


def test_pq_codes_shape_and_range(spark):
    from mesin_spark.ext.pq import pq_codebooks, pq_encode
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    B = pq_codebooks(emb, m=8, k=16)
    assert B.shape == (8, 16, 8)
    codes = emb.select(pq_encode(B).alias("c")).collect()
    for r in codes:
        assert len(r["c"]) == 8
        assert all(0 <= c < 16 for c in r["c"])


def _python_bpe(word_counts: dict, n_merges: int, min_count: int):
    """Pure-Python reference BPE trainer (Sennrich et al.), greedy
    left-to-right apply, tie-break (count desc, pair lexicographic)."""
    syms = {w: tuple(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        counts: dict = {}
        for w, s in syms.items():
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < min_count:
            break
        merges.append((rank, a, b, a + b, n))
        for w, s in syms.items():
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    return merges


def test_bpe_train_matches_python_reference(spark):
    from mesin_spark.ext.bpe import word_counts
    from mesin_spark.queries import T

    from mesin_spark.ext.bpe import train_bpe

    docs = T(spark, SF_DIR, "documents")
    wc = {r["word"]: r["wcount"] for r in word_counts(docs).collect()}

    # deep check: the distributed trainer reproduces the reference trainer
    # merge-for-merge at 24 rounds
    expected24 = _python_bpe(wc, n_merges=24, min_count=2)
    got24 = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in train_bpe(docs, n_merges=24, min_count=2)
    ]
    assert got24 == expected24

    # and the registered query exposes the same artifact (12 rounds)
    import __spark_entry__ as E

    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in E.queries()["q_bpe_train"](spark, SF_DIR)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected24[:12]


def test_bpe_apply_merge_greedy_left_to_right(spark):
    from pyspark.sql import functions as F

    from mesin_spark.ext.bpe import apply_merge

    df = spark.createDataFrame([(["a", "a", "a"],), (["a", "b", "a", "b"],)], ["s"])
    out = df.select(apply_merge(F.col("s"), "a", "a").alias("m")).collect()
    assert out[0]["m"] == ["aa", "a"]  # greedy: merge once, keep scanning
    out2 = df.select(apply_merge(F.col("s"), "a", "b").alias("m")).collect()
    assert out2[1]["m"] == ["ab", "ab"]


def test_bpe_encode_words_roundtrip(spark):
    from pyspark.sql import functions as F

    from mesin_spark.ext.bpe import encode_words, train_bpe
    from mesin_spark.queries import T

    docs = T(spark, SF_DIR, "documents")
    merges = train_bpe(docs, n_merges=10, min_count=2)
    assert merges  # corpus is repetitive enough to learn something
    words = spark.createDataFrame([("the",), ("scan",)], ["word"])
    enc = {r["word"]: r["pieces"] for r in encode_words(words, merges).collect()}
    for w, pieces in enc.items():
        assert "".join(pieces) == w  # lossless


def test_ivfpq_recall_and_pruning(spark):
    from mesin_spark.ext.pq import ivfpq_topk
    from mesin_spark.ext.similarity import brute_force_topk
    from mesin_spark.queries import T

    emb = T(spark, SF_DIR, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx = [
        r["vec_id"] for r in ivfpq_topk(emb, qvec, topk=10).collect()
    ]
    assert 0 in approx  # query vector is in its own probed list
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"IVF-PQ recall@10 too low: {recall}"


# -- shuffle_shards -----------------------------------------------------
def test_shuffle_shards_dense_positions_and_determinism(spark):
    from mesin_spark.ext.pipeline import shuffle_shards

    docs = spark.createDataFrame([(i,) for i in range(1000)], ["doc_id"])
    out = shuffle_shards(docs, "doc_id", n_shards=8).collect()
    assert len(out) == 1000
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # every id lands in exactly one of 8 shards; positions are dense 1..n
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # roughly balanced (uniform hash): no shard more than 2x the mean
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) <= 2 * (1000 // 8)
    # deterministic: identical assignment on re-run
    out2 = shuffle_shards(docs, "doc_id", n_shards=8).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out2
    }


def test_shuffle_shards_not_id_ordered(spark):
    """The in-shard order must be a genuine shuffle, not id order."""
    from mesin_spark.ext.pipeline import shuffle_shards

    docs = spark.createDataFrame([(i,) for i in range(1000)], ["doc_id"])
    rows = shuffle_shards(docs, "doc_id", n_shards=1).orderBy("pos").collect()
    ids = [r["doc_id"] for r in rows]
    assert ids != sorted(ids)


# -- suppress_lower_quality ---------------------------------------------
def test_suppress_drops_lower_quality_endpoint(spark):
    from mesin_spark.ext.dedup import suppress_lower_quality

    docs = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.7), (4, 0.7), (10, 0.1)],
        ["doc_id", "quality"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], ["id_a", "id_b"]
    )
    kept = {r["doc_id"] for r in suppress_lower_quality(docs, pairs).collect()}
    # (1,2): 2 has lower quality -> dropped; (3,4): tie -> higher id 4 dropped
    # 10 is in no pair -> survives
    assert kept == {1, 3, 10}


def test_suppress_mid_quality_doc_paired_both_ways_is_dropped(spark):
    """Pairwise (not transitive): a doc losing ANY pair is dropped even if
    it wins another."""
    from mesin_spark.ext.dedup import suppress_lower_quality

    docs = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.2)], ["doc_id", "quality"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = {r["doc_id"] for r in suppress_lower_quality(docs, pairs).collect()}
    assert kept == {1}


def test_shuffle_shards_matches_pure_python_mix(spark):
    """Engine-portability: shard and position must equal a pure-Python
    evaluation of the documented arithmetic ((id*2654435761) mod 2^32,
    shard = mod 8, pos = rank of (h, id) within shard) — including
    negative and near-int64 ids where naive multiplication overflows."""
    import random

    from mesin_spark.ext.pipeline import shuffle_shards

    rng = random.Random(7)
    ids = {rng.randrange(-(2**62), 2**62) for _ in range(200)}
    ids |= {0, 1, -1, 2**62, -(2**62), 3_500_000_000}
    ids = sorted(ids)
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shuffle_shards(docs, "doc_id", n_shards=8).collect()
    }
    by_shard = {}
    for i in ids:
        h = (i * 2654435761) % (1 << 32)
        by_shard.setdefault(h % 8, []).append((h, i))
    expected = {}
    for shard, entries in by_shard.items():
        for pos, (_, i) in enumerate(sorted(entries), start=1):
            expected[i] = (shard, pos)
    assert got == expected


# -- image perceptual-hash dedup ----------------------------------------
def test_image_ahash_groups_noisy_copies(spark):
    """Every planted (i, i+1e6) noisy re-encode must share its base
    image's perceptual hash; distinct base images must mostly differ."""
    from mesin_spark.ext import multimodal as MM

    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    dup = ids.union(ids.selectExpr("doc_id + 1000000 AS doc_id"))
    hashed = MM.image_ahash(MM.synth_image(dup))
    h = {r["doc_id"]: r["ahash"] for r in hashed.collect()}
    assert all(h[i] == h[i + 1_000_000] for i in range(60))
    # base images are high-contrast and keyed on the id: few collisions
    assert len({h[i] for i in range(60)}) >= 54


def test_q_image_dedup_recalls_all_planted_pairs(spark):
    from mesin_spark.queries.llm4 import q_image_dedup

    groups = q_image_dedup(spark, SF_DIR).collect()
    paired = set()
    for g in groups:
        ids = {int(x) for x in g["ids"].split(",")}  # driver-safe CSV string
        for i in ids:
            if i < 1_000_000_000_000 and i + 1_000_000_000_000 in ids:
                paired.add(i)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(paired) == n_docs


def test_jpeg_codec_roundtrip_properties(spark):
    """The pure-Python baseline JPEG codec: (1) deterministic bytes;
    (2) round-trip PSNR well above usable thresholds on smooth and
    high-contrast inputs, color and grayscale; (3) self-describing —
    the decoder reads quant/Huffman tables from the file, so re-reading
    our own output needs no shared state; (4) documented envelope
    errors raise NotImplementedError/ValueError, never wrong pixels."""
    import numpy as np
    import pytest

    from mesin_spark.ext.jpeg import decode_jpeg, make_jpeg_payload

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)

    yy, xx = np.mgrid[0:37, 0:53]
    smooth = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256], axis=-1
    ).astype(np.uint8)
    enc = make_jpeg_payload(smooth, quality=90)
    assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
    assert make_jpeg_payload(smooth, quality=90) == enc  # deterministic
    dec, meta = decode_jpeg(enc)
    assert (meta["width"], meta["height"]) == (53, 37)
    assert dec.shape == smooth.shape
    assert psnr(smooth, dec) > 40

    gray = ((np.sin(yy / 5) + np.cos(xx / 7)) * 60 + 128).astype(np.uint8)
    gdec, gmeta = decode_jpeg(make_jpeg_payload(gray, quality=85))
    assert gmeta["n_components"] == 1 and gdec.shape == gray.shape
    assert psnr(gray, gdec) > 38

    hard = np.zeros((16, 16, 3), np.uint8)
    hard[::2, ::2] = 255  # checkerboard: worst case for DCT
    hdec, _ = decode_jpeg(make_jpeg_payload(hard, quality=95))
    assert psnr(hard, hdec) > 20

    # 4:2:0 subsampling: the photographic default — strictly smaller,
    # chroma softened but PSNR still high; exercises the decoder's
    # general MCU-interleave path (2x2 luma + downsampled chroma)
    e420 = make_jpeg_payload(smooth, quality=90, subsampling="420")
    assert len(e420) < len(enc)
    d420, m420 = decode_jpeg(e420)
    assert d420.shape == smooth.shape and m420["n_components"] == 3
    assert psnr(smooth, d420) > 40
    assert make_jpeg_payload(smooth, 90, "420") == e420  # deterministic

    # restart intervals: framing only — decoded pixels must be
    # bit-identical to the no-DRI encode at any interval/subsampling
    for sub in ("444", "420"):
        base, _ = decode_jpeg(make_jpeg_payload(smooth, 90, sub))
        for ri in (1, 3, 7):
            d_ri, _ = decode_jpeg(
                make_jpeg_payload(smooth, 90, sub, restart_interval=ri)
            )
            assert np.array_equal(d_ri, base)

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # a BASELINE scan mislabeled as SOF2 is malformed (its SOS declares
    # Se=63 on what progressive rules read as a DC scan) — must refuse,
    # not mis-decode; real progressive streams are covered by
    # test_progressive_jpeg_bit_identical_to_baseline
    mislabeled = enc.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        decode_jpeg(mislabeled)
    # genuinely unsupported SOF class (lossless, SOF3) still refuses
    with pytest.raises(NotImplementedError):
        decode_jpeg(enc.replace(b"\xff\xc0", b"\xff\xc3", 1))


def test_q_image_jpeg_dedup_survives_recompression(spark):
    """Planted near-dup pairs must still group on the perceptual hash
    after a REAL lossy JPEG re-encode (quantization noise, not synthetic
    pixel noise), and the transcode must actually compress raw PPM."""
    from mesin_spark.ext import multimodal as MM
    from mesin_spark.queries.llm4 import q_image_jpeg
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    # 64x48: large enough that JPEG's fixed table overhead (~600 B)
    # amortizes — tiny 16x12 PPMs are smaller than any JPEG
    jpg = MM.transcode_to_jpeg(
        MM.synth_image(ids, width=64, height=48), quality=85
    )
    stats = jpg.agg(F.max("ratio").alias("mx")).collect()[0]
    assert stats["mx"] < 1.0  # JPEG strictly smaller than raw PPM here

    groups = q_image_jpeg(spark, SF_DIR).collect()
    paired = set()
    for g in groups:
        s = {int(x) for x in g["ids"].split(",")}  # driver-safe CSV string
        for i in s:
            if i < 1_000_000_000_000 and i + 1_000_000_000_000 in s:
                paired.add(i)
    # all 300 sampled docs' planted pairs survive the recompression
    assert len(paired) == 300


def test_ann_index_persist_prune_recall(spark, tmp_path):
    """Persisted IVF-PQ index: (1) reopening from disk reproduces the
    in-memory build's answer exactly; (2) the probe scan prunes
    partitions (PartitionFilters on ivf_list, and fewer corpus files
    read than exist); (3) recall@10 vs the exact scan is well above
    chance."""
    from pyspark.sql import functions as F

    from mesin_spark.ext import ann_index as AI
    from mesin_spark.ext.similarity import brute_force_topk
    from mesin_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]

    built = AI.build_index(emb, str(tmp_path), n_list=8, m=8, k=16)
    reopened = AI.load_index(spark, str(tmp_path))
    a = [r["vec_id"] for r in built.topk(qvec, 10, n_probe=4).collect()]
    b = [r["vec_id"] for r in reopened.topk(qvec, 10, n_probe=4).collect()]
    assert a == b, "cold reopen must reproduce the in-memory answer"

    df = reopened.topk(qvec, 10, n_probe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "ivf_list" in seg

    exact = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()}
    # same floor as test_ivfpq_recall_and_pruning: PQ (m=8,k=16) caps
    # recall on this synthetic table at ~0.3 even probing every list
    assert len(set(a) & exact) >= 3


def test_poison_pill_payloads_flag_not_kill(spark):
    """The 100 TB ingest-robustness contract (VERDICT r05 #2): a 500-row
    image batch with one TRUNCATED baseline JPEG and one UNSUPPORTED
    SOF-class (lossless, SOF3) JPEG completes the job with exactly those
    two rows flagged in the error column — a poison-pill record must
    never abort the job. (Progressive SOF2 is no longer a poison pill:
    it decodes for real — test_progressive_jpeg_bit_identical_to_baseline.)
    Exercises image_ahash AND transcode_to_jpeg over the same batch."""
    import numpy as np

    from mesin_spark.ext import multimodal as MM
    from mesin_spark.ext.jpeg import make_jpeg_payload

    px = np.full((16, 12, 3), 96, np.uint8)
    px[::3, ::2] = 200  # some structure so the JPEG is non-trivial
    good_jpeg = make_jpeg_payload(px, quality=90)
    truncated = good_jpeg[: len(good_jpeg) // 2]
    # patch SOF0 (FFC0) -> SOF3 (FFC3): a lossless JPEG per the marker
    # the decoder dispatches on — outside the codec envelope
    sof = good_jpeg.index(b"\xff\xc0")
    lossless = good_jpeg[:sof] + b"\xff\xc3" + good_jpeg[sof + 2 :]

    rows = [(i, bytearray(MM.make_ppm_payload(px))) for i in range(498)]
    rows.append((998, bytearray(truncated)))
    rows.append((999, bytearray(lossless)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    hashed = MM.image_ahash(df).collect()
    assert len(hashed) == 500
    bad = {r.doc_id: r.error for r in hashed if r.error is not None}
    assert set(bad) == {998, 999}
    assert "NotImplementedError" in bad[999]  # unsupported class, flagged
    assert all(r.ahash is not None for r in hashed if r.error is None)

    coded = MM.transcode_to_jpeg(df, quality=85).collect()
    assert len(coded) == 500
    bad2 = {r.doc_id for r in coded if r.error is not None}
    assert bad2 == {998, 999}
    assert all(
        r.payload is not None and r.n_bytes > 0 for r in coded if r.error is None
    )


def test_progressive_jpeg_bit_identical_to_baseline(spark):
    """Progressive (SOF2) encode/decode: the progressive encoder splits
    the SAME quantized coefficients as the baseline encoder across
    spectral-selection + successive-approximation scans, so decoding the
    progressive file must be BIT-IDENTICAL to decoding the baseline file
    — across grayscale/color, 4:4:4/4:2:0 (incl. the odd-luma-row case
    where non-interleaved scan dims differ from the MCU-padded grid),
    restart intervals, and EOB-run-heavy smooth content."""
    import numpy as np

    from mesin_spark.ext.jpeg import (
        decode_jpeg,
        make_jpeg_payload,
        make_progressive_jpeg_payload,
    )

    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:64, 0:64]
    cases = [
        (rng.integers(0, 256, (40, 56), dtype=np.uint8), "444", 0),
        (rng.integers(0, 256, (41, 53, 3), dtype=np.uint8), "444", 0),
        (rng.integers(0, 256, (24, 40, 3), dtype=np.uint8), "420", 0),
        (rng.integers(0, 256, (64, 48, 3), dtype=np.uint8), "420", 2),
        (np.full((16, 16), 128, np.uint8), "444", 0),        # all-EOB
        (((yy + xx) * 2 % 256).astype(np.uint8), "444", 0),  # long EOBn runs
    ]
    for px, sub, dri in cases:
        base = make_jpeg_payload(px, quality=85, subsampling=sub)
        prog = make_progressive_jpeg_payload(
            px, quality=85, subsampling=sub, restart_interval=dri
        )
        assert prog[:4] != base[:4] or b"\xff\xc2" in prog  # really SOF2
        a, _ = decode_jpeg(base)
        b, meta = decode_jpeg(prog)
        assert np.array_equal(a, b), (px.shape, sub, dri)
        assert (meta["width"], meta["height"]) == (px.shape[1], px.shape[0])


def test_progressive_jpeg_flows_through_image_operators(spark):
    """A progressive JPEG payload is a first-class citizen of the image
    operators: decode_image sniffs it, ahash groups it with its baseline
    twin, and transcode_to_jpeg re-encodes it without a flag."""
    import numpy as np

    from mesin_spark.ext import multimodal as MM
    from mesin_spark.ext.jpeg import make_jpeg_payload, make_progressive_jpeg_payload

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    base = make_jpeg_payload(px, quality=90)
    prog = make_progressive_jpeg_payload(px, quality=90)
    a, _ = MM.decode_image(base)
    b, _ = MM.decode_image(prog)
    assert np.array_equal(a, b)

    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(prog))], "doc_id long, payload binary"
    )
    hashed = {r.doc_id: r for r in MM.image_ahash(df).collect()}
    assert hashed[1].error is None and hashed[2].error is None
    assert hashed[1].ahash == hashed[2].ahash  # identical pixels -> same hash
    coded = MM.transcode_to_jpeg(df, quality=85).collect()
    assert all(r.error is None and r.n_bytes > 0 for r in coded)

    # a TRUNCATED progressive file is still a per-record flag, not a crash
    df2 = spark.createDataFrame(
        [(3, bytearray(prog[: len(prog) // 2]))], "doc_id long, payload binary"
    )
    rows = MM.image_ahash(df2).collect()
    assert rows[0].error is not None and rows[0].ahash is None


def test_sq8_codes_range_and_reconstruction_bound(spark):
    """SQ8 codes land in [0,255]; decoded values sit within half a
    quantization step (span/510) of the original on every dimension."""
    from mesin_spark.ext.similarity import sq8_bounds, sq8_code_col

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bounds = sq8_bounds(emb)
    coded = emb.crossJoin(F.broadcast(bounds)).select(
        "vec_id",
        "embedding",
        sq8_code_col(F.col("embedding"), F.col("lo"), F.col("hi")).alias("code"),
        "lo",
        "hi",
    )
    bad_range = coded.filter(
        F.exists(F.col("code"), lambda c: (c < 0) | (c > 255))
    ).count()
    assert bad_range == 0
    # max over all rows/dims of |decoded - original| - span/510 <= ~0
    err = coded.select(
        F.aggregate(
            F.transform(
                F.col("code"),
                lambda c, i: F.abs(
                    (
                        F.element_at(F.col("lo"), i + 1)
                        + c
                        * (
                            F.element_at(F.col("hi"), i + 1)
                            - F.element_at(F.col("lo"), i + 1)
                        )
                        / F.lit(255.0)
                    )
                    - F.col("embedding")[i].cast("double")
                )
                - (
                    F.element_at(F.col("hi"), i + 1)
                    - F.element_at(F.col("lo"), i + 1)
                )
                / F.lit(510.0),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("e")
    ).agg(F.max("e")).collect()[0][0]
    assert err <= 1e-9
    # vectors shorter than, longer than, or missing against 2-dim bounds:
    # extra dimensions code 0 (no ANSI index error), empty stays empty,
    # NULL stays NULL
    odd = spark.createDataFrame(
        [(1, [0.5]), (2, []), (3, None), (4, [0.5, 1.0, 9.0])],
        "id int, v array<double>",
    ).select(
        "id",
        sq8_code_col(
            F.col("v"),
            F.array(F.lit(0.0), F.lit(0.0)),
            F.array(F.lit(1.0), F.lit(1.0)),
        ).alias("code"),
    )
    codes = {r.id: r.code for r in odd.collect()}
    assert codes == {1: [128], 2: [], 3: None, 4: [128, 255, 0]}
    # bounds over short, empty and NULL vectors: the missing dimensions
    # are skipped (no ANSI index error), not read as 0
    short = spark.createDataFrame(
        [([0.1, 0.2],), ([0.3],), ([],), (None,)], "embedding array<double>"
    )
    b = sq8_bounds(short, dim=2).collect()[0]
    assert (b.lo, b.hi) == ([0.1, 0.2], [0.3, 0.2])


def test_sq8_topk_close_to_exact_l2(spark):
    """SQ8 distances order like true L2: the top-10 under quantized
    distance recalls >=8 of the true L2 top-10 on the fixture corpus,
    and repeated runs are identical (deterministic arithmetic)."""
    from mesin_spark.ext.similarity import sq8_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = sq8_topk(emb, query_id=0, k=10)
    ids = [r["vec_id"] for r in got.collect()]
    assert len(ids) == 10
    # exact L2 top-10 via the same zip_with arithmetic on raw floats
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "qe",
                    lambda a, b: a.cast("double") - b.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    exact_ids = {r["vec_id"] for r in exact.collect()}
    assert len(set(ids) & exact_ids) >= 8
    again = [r["vec_id"] for r in sq8_topk(emb, query_id=0, k=10).collect()]
    assert again == ids


def test_pq_portable_matches_pure_python_reference(spark):
    """pq_portable_topk is deterministic enough to re-derive outside
    Spark: a pure-Python implementation of the same seed-row codebooks,
    rounded-argmin encode, and fixed-order ADC must produce the
    identical top-10 (ids AND distances) — the same cross-engine claim
    the DuckDB oracle certifies, checked a third way. Also: reruns are
    bit-identical."""
    import math

    from mesin_spark.ext.similarity import pq_portable_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = [(r["vec_id"], r["dist"]) for r in pq_portable_topk(emb, query_id=0, k=10).collect()]
    rows = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in emb.collect()}
    m, sub, n_codes = 4, 16, 16
    rl2 = lambda a, b: math.floor(
        sum((x - y) * (x - y) for x, y in zip(a, b)) * 1e6 + 0.5
    ) / 1e6
    cw = {(s, j): rows[j][s * sub:(s + 1) * sub] for s in range(m) for j in range(n_codes)}
    q = rows[0]
    lut = {(s, j): rl2(q[s * sub:(s + 1) * sub], cw[(s, j)]) for s in range(m) for j in range(n_codes)}
    scored = []
    for vid, v in rows.items():
        if vid == 0:
            continue
        dist = 0.0
        for s in range(m):
            code = min(range(n_codes), key=lambda j: (rl2(v[s * sub:(s + 1) * sub], cw[(s, j)]), j))
            dist += lut[(s, code)]
        scored.append((math.floor(dist * 1e6 + 0.5) / 1e6, vid))
    scored.sort()
    want = [(vid, d) for d, vid in scored[:10]]
    assert got == want, (got, want)
    again = [(r["vec_id"], r["dist"]) for r in pq_portable_topk(emb, query_id=0, k=10).collect()]
    assert again == got


def test_progressive_jpeg_truncated_between_scans_raises(spark):
    """Envelope contract: a progressive stream torn between scans must
    RAISE (never return the partially-accumulated image as if complete);
    EOI absence is the truncation signal. Baseline truncation already
    raises from the entropy decoder."""
    import numpy as np
    import pytest

    from mesin_spark.ext.jpeg import decode_jpeg, make_progressive_jpeg_payload

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (24, 32, 3)).astype("uint8")
    prog = make_progressive_jpeg_payload(px, quality=85)
    sos = [i for i in range(2, len(prog) - 1)
           if prog[i] == 0xFF and prog[i + 1] == 0xDA]
    assert len(sos) >= 2
    with pytest.raises(ValueError, match="truncated progressive"):
        decode_jpeg(prog[: sos[1]])
    decode_jpeg(prog)  # the untruncated stream still decodes


def test_bpe_select_batch_guards():
    """Unit: the snapshot-provable acceptance rules of the batched
    trainer (ext/bpe._select_batch) — each divergence channel stops the
    batch exactly where sequential equivalence stops being provable."""
    from mesin_spark.ext.bpe import _select_batch

    def row(l, r, n):
        return {"l": l, "r": r, "n": n}

    # conflict stop: (b,c) shares b with accepted (a,b) -> batch = 1
    top = [row("a", "b", 100), row("b", "c", 90), row("d", "e", 80)]
    got = _select_batch(top, limit=16, batch=8, min_count=2, vocab={"a", "b", "c", "d", "e"})
    assert [(p["l"], p["r"]) for p in got] == [("a", "b")]

    # disjoint with strict gaps: all three accepted in order
    top = [row("a", "b", 100), row("c", "d", 90), row("e", "f", 80), row("g", "h", 10)]
    got = _select_batch(top, limit=16, batch=8, min_count=2,
                        vocab=set("abcdefgh"))
    assert [(p["l"], p["r"]) for p in got] == [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")]

    # tie with a conflicting later pair: (c,d)=90 ties (x,a)=90 which
    # shares a with accepted (a,b) -> created pairs could tie -> stop
    top = [row("a", "b", 100), row("c", "d", 90), row("x", "a", 90)]
    got = _select_batch(top, limit=16, batch=8, min_count=2, vocab=set("abcdx"))
    assert [(p["l"], p["r"]) for p in got] == [("a", "b")]

    # unknown-region tie: snapshot full at limit -> candidates at the
    # last collected count can't prove dominance -> stop before them
    top = [row("a", "b", 100), row("c", "d", 50), row("e", "f", 50)]
    got = _select_batch(top, limit=3, batch=8, min_count=2, vocab=set("abcdef"))
    assert [(p["l"], p["r"]) for p in got] == [("a", "b")]
    # same rows but table exhausted (limit > len) -> no unknown region
    got = _select_batch(top, limit=4, batch=8, min_count=2, vocab=set("abcdef"))
    assert [(p["l"], p["r"]) for p in got] == [("a", "b"), ("c", "d"), ("e", "f")]

    # boost channel: merged token already in vocab -> accept it, stop
    top = [row("ab", "c", 100), row("d", "e", 90)]
    got = _select_batch(top, limit=16, batch=8, min_count=2,
                        vocab={"ab", "c", "d", "e", "abc"})
    assert [(p["l"], p["r"]) for p in got] == [("ab", "c")]

    # min_count floor inside the batch
    top = [row("a", "b", 100), row("c", "d", 1)]
    got = _select_batch(top, limit=16, batch=8, min_count=2, vocab=set("abcd"))
    assert [(p["l"], p["r"]) for p in got] == [("a", "b")]


def test_bpe_batched_equals_sequential_and_collapses_rounds(spark):
    """Integration: batch>1 learns byte-identical merges to batch=1 on
    the real fixture (interactions included) in measurably fewer SQL
    executions — the driver-round bottleneck the batching removes."""
    from mesin_spark.ext.bpe import train_bpe
    from mesin_spark.queries import T

    docs = T(spark, SF_DIR, "documents")
    store = spark._jsparkSession.sharedState().statusStore()

    def run(batch):
        first = store.executionsList().size()
        out = train_bpe(docs, n_merges=24, min_count=2, batch=batch)
        return out, store.executionsList().size() - first

    seq, seq_execs = run(1)
    bat, bat_execs = run(8)
    assert [(m["left"], m["right"], m["pair_count"]) for m in bat] == [
        (m["left"], m["right"], m["pair_count"]) for m in seq
    ]
    # real text interacts (common chars co-occur: (t,h) blocks (h,e)),
    # so the fixture's collapse is partial — but it must be a real
    # reduction, not a wash
    assert bat_execs < seq_execs * 0.8, (bat_execs, seq_execs)

    # on a disjoint-pair corpus the collapse reaches ~batch-fold: 8
    # frequent pairs sharing no symbol, strictly decreasing counts ->
    # one batched round learns what 8 sequential rounds would
    words = [("ab", 900), ("cd", 800), ("ef", 700), ("gh", 600),
             ("ij", 500), ("kl", 400), ("mn", 300), ("op", 200)]
    docs2 = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in words], ["text"]
    )
    def run2(batch):
        first = store.executionsList().size()
        out = train_bpe(docs2, n_merges=8, min_count=2, batch=batch)
        return out, store.executionsList().size() - first
    seq2, seq2_execs = run2(1)
    bat2, bat2_execs = run2(8)
    assert [(m["left"], m["right"]) for m in bat2] == [
        (m["left"], m["right"]) for m in seq2
    ]
    assert len(bat2) == 8
    assert bat2_execs * 3 <= seq2_execs, (bat2_execs, seq2_execs)


def test_ann_append_equals_rebuild_and_tracks_drift(spark, tmp_path):
    """Incremental IVF-PQ maintenance (ext/ann_index.append_batch):
    (1) append ≡ rebuild — building on part of the corpus and appending
    the rest (artifacts trained on the SAME frame) reproduces the
    single-shot build's coded table and top-k exactly;
    (2) a reopened index resumes cumulative drift counters;
    (3) an in-distribution batch trips no rebuild flag, a shifted batch
    trips the fit-drop flag, and occupancy overflow trips the
    occupancy flag."""
    from pyspark.sql import functions as F

    from mesin_spark.ext import ann_index as AI
    from mesin_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    part = emb.filter(F.col("vec_id") % 4 != 0)
    rest = emb.filter(F.col("vec_id") % 4 == 0)

    full = AI.build_index(emb, str(tmp_path / "full"), n_list=8, m=8, k=16)
    incr = AI.build_index(
        emb, str(tmp_path / "incr"), n_list=8, m=8, k=16, corpus=part
    )
    report = AI.append_batch(incr, rest).collect()
    # in-distribution batch: no rebuild flags anywhere
    assert report and not any(r["needs_rebuild"] for r in report)

    # coded tables byte-identical (same frozen artifacts -> same codes)
    read = lambda p, d: spark.read.parquet(f"{p}/{d}").orderBy("vec_id")
    a = [(r["vec_id"], list(r["codes"]), r["ivf_list"])
         for r in read(str(tmp_path / "full"), full.corpus_dir).collect()]
    b = [(r["vec_id"], list(r["codes"]), r["ivf_list"])
         for r in read(str(tmp_path / "incr"), incr.corpus_dir).collect()]
    assert a == b

    # reopened incremental index answers identically to the full build
    ro = AI.load_index(spark, str(tmp_path / "incr"))
    assert [r["vec_id"] for r in ro.topk(qvec, 10, n_probe=4).collect()] == [
        r["vec_id"] for r in full.topk(qvec, 10, n_probe=4).collect()
    ]
    # ...and resumes the cumulative counters written by append_batch
    assert sum(v["rows"] for v in ro.stats["appended"].values()) == rest.count()

    # drift: a shifted batch (constant offset on every dim, re-keyed)
    # must trip fit-drop flags
    dim = len(qvec)
    shifted = rest.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") + F.lit(3.0)).cast("float")
        ).alias("embedding"),
    )
    drift = AI.append_batch(ro, shifted).collect()
    assert any(r["needs_rebuild"] and r["fit_drop"] > 0.05 for r in drift)

    # occupancy: appending more rows than were built trips the ratio flag
    big = emb.select((F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding")
    occ = AI.append_batch(ro, big, occupancy_factor=1.0).collect()
    assert any(r["needs_rebuild"] and r["occupancy_ratio"] > 1.0 for r in occ)


def test_ann_compact_bounds_files_and_preserves_topk(spark, tmp_path):
    """compact_index (round-11 ask #3): after N appends the codes table
    holds N+1 file generations per touched list; compaction rewrites
    the live dir into the next versioned corpus dir (one file per list)
    behind the same atomic meta swap a rebuild uses — top-k identical
    before/after, a reopened index reads the compacted dir, appends
    keep working, and vacuum removes only the superseded dirs."""
    import os

    from mesin_spark.ext import ann_index as AI
    from mesin_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").limit(300)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    idx = AI.build_index(emb, str(tmp_path), n_list=4, m=8, k=8)
    for i in range(4):
        AI.append_batch(idx, emb.limit(40).select(
            (F.col("vec_id") + (i + 1) * 100_000).alias("vec_id"), "embedding"
        ))
    before = [tuple(r) for r in idx.topk(qvec, 10, n_probe=4).collect()]

    # below-threshold call is a metadata-only no-op
    noop = AI.compact_index(idx, max_files_per_list=1000)
    assert not noop["compacted"] and noop["corpus_dir"] == idx.corpus_dir

    rep = AI.compact_index(idx, max_files_per_list=2)
    assert rep["compacted"] and rep["worst_list_files"] > 2
    assert rep["files_after"] <= 4  # one file per ivf_list partition
    assert rep["files_after"] < rep["files_before"]
    assert idx.corpus_dir == rep["corpus_dir"]
    assert [tuple(r) for r in idx.topk(qvec, 10, n_probe=4).collect()] == before

    # reopen follows the swapped meta pointer; counters survived
    ro = AI.load_index(spark, str(tmp_path))
    assert ro.corpus_dir == rep["corpus_dir"]
    assert [tuple(r) for r in ro.topk(qvec, 10, n_probe=4).collect()] == before
    assert sum(v["rows"] for v in ro.stats["appended"].values()) == 160

    # appends continue into the compacted dir
    AI.append_batch(ro, emb.limit(10).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    ))
    assert ro.topk(qvec, 10, n_probe=4).count() == 10

    # vacuum drops only superseded corpus dirs
    removed = AI.vacuum_index(ro)
    assert removed and rep["corpus_dir"] not in removed
    left = [d for d in os.listdir(str(tmp_path)) if d.startswith(AI.CORPUS_DIR)]
    assert left == [rep["corpus_dir"]]
    assert ro.topk(qvec, 10, n_probe=4).count() == 10  # reads post-vacuum


def test_ann_append_pending_marker_detects_torn_batch(spark, tmp_path):
    """Append bracketing (round-11 ADVICE): the pending_batch marker
    commits BEFORE the data write and clears in the same atomic replace
    that folds the counters — a completed append leaves no marker, a
    crash between the two leaves one that load_index surfaces as a
    warning instead of silently undercounting forever."""
    import json
    import os
    import warnings as w

    from mesin_spark.ext import ann_index as AI
    from mesin_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").limit(400)
    part = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    idx = AI.build_index(emb, str(tmp_path), n_list=4, m=8, k=8, corpus=part)

    # a COMPLETED append: marker cleared, batch counter advanced
    AI.append_batch(idx, rest)
    mp = os.path.join(str(tmp_path), AI.META_FILE)
    with open(mp) as f:
        meta = json.load(f)
    assert meta["pending_batch"] is None and meta["n_batches"] == 1

    # simulate the crash window: marker set, counters not folded
    meta["pending_batch"] = {"batch_id": 2}
    with open(mp, "w") as f:
        json.dump(meta, f)
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        reopened = AI.load_index(spark, str(tmp_path))
    assert any("uncommitted append" in str(r.message) for r in rec)
    # the handle still works (warning, not refusal) and a subsequent
    # successful append clears the stale marker
    AI.append_batch(reopened, rest.limit(10).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    ))
    with open(mp) as f:
        meta2 = json.load(f)
    assert meta2["pending_batch"] is None and meta2["n_batches"] == 2
