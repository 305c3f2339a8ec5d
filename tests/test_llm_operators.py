"""Behavioral tests for the LLM-pipeline operators: planted duplicates
must be found, stubs must fail loudly, and the Pandas-UDF plumbing must
produce the same numbers as a driver-side reference computation."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.operators import dedup, multimodal, similarity, text
from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")  # small edit -> near-dup
    far = "completely different content about spark shuffle partitions and joins"
    rows = [
        (1, base, "blockA"),
        (2, base, "blockA"),        # exact duplicate of 1
        (3, near, "blockA"),        # near duplicate of 1
        (4, far, "blockA"),
        (5, "tiny", "blockB"),      # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup_groups(docs):
    out = {r.canonical_id: r.n_duplicates for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1+2 collapse
    assert out.get(3) == 1 and out.get(4) == 1 and out.get(5) == 1


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard_est
        for r in dedup.minhash_lsh_pairs(docs, min_jaccard_est=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0          # exact dup: all signatures agree
    assert (1, 3) in pairs               # near dup: most bands agree
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_short_text_has_null_signature(docs):
    sigs = {r.doc_id: r.sig0 for r in dedup.minhash_signatures(docs).collect()}
    assert sigs[5] is None               # no shingles -> empty-array min
    assert sigs[1] == sigs[2]


def test_simhash_near_dup_close_exact_dup_equal(docs):
    h = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert h[1] == h[2]
    hamming_near = bin(h[1] ^ h[3]).count("1")
    hamming_far = bin(h[1] ^ h[4]).count("1")
    assert hamming_near < hamming_far


def test_ngram_jaccard_ordering(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, block_col="source", min_jaccard=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # disjoint pairs are omitted (J=0), not emitted with a 0.0 score
    assert pairs[(1, 3)] > pairs.get((1, 4), 0.0)


def test_embedding_cosine_pairs_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0], 1),   # other block
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r.id_a, r.id_b) for r in dedup.embedding_cosine_pairs(emb, "label").collect()}
    assert pairs == {(0, 1)}

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    top = similarity.cosine_topk(emb, q, k=2).collect()
    assert [r.vec_id for r in top] == [0, 1]
    assert top[0].score == 1.0

    # LSH probe: only same-sign-bucket candidates are scored
    lsh = similarity.cosine_topk_lsh(emb, q, k=4, bits=2).collect()
    assert 3 not in {r.vec_id for r in lsh}


def test_text_stats_reference_values(spark):
    df = spark.createDataFrame(
        [(1, "The cat sat on the mat, quietly.")], "doc_id long, text string"
    )
    r = text.text_stats(df).first()
    assert r.n_tokens == 7
    assert r.n_chars_measured == 32
    # punct: ',' and '.' -> 2/32
    assert r.punct_ratio == round(2 / 32, 4)
    assert r.n_tokens_bpe == 9  # 7 words + comma + period


def test_language_id_tiebreak_deterministic(spark):
    df = spark.createDataFrame([(1, "xyzzy plugh")], "doc_id long, text string")
    r = text.language_id(df).first()
    assert r.predicted_lang == "en"  # zero hits everywhere -> first lexicon


def test_fingerprints_word_order_invariance(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: (r.content_fp, r.winnow_fp) for r in text.fingerprints(df).collect()}
    assert fps[1][0] == fps[2][0]        # bag-of-words identity
    assert fps[1][0] != fps[3][0]
    assert fps[1][1] == fps[2][1]        # min-k sketch is order-free too


def test_multimodal_fake_extractor_matches_reference(spark):
    df = spark.createDataFrame([(7, "hi!")], "doc_id long, text string")
    assets = multimodal.attach_binary_payload(df)
    feat = multimodal.fake_feature_extractor(assets).first()
    raw = b"hi!"
    assert feat.asset_id == 7
    assert feat.byte_length == len(raw)
    assert feat.first_byte == raw[0]
    assert feat.byte_sum_mod == sum(raw) % 1_000_003
    assert feat.mean_byte == sum(raw) / len(raw)

    meta = multimodal.binary_metadata(assets).first()
    assert meta.content_md5 == hashlib.md5(raw).hexdigest()
    assert meta.byte_length == 3


def _encode_pgm(width, height, pixels):
    return b"P5\n# test fixture\n%d %d\n255\n" % (width, height) + bytes(pixels)


def _encode_ppm(width, height, rgb):
    flat = bytes(c for px in rgb for c in px)
    return b"P6 %d %d 255\n" % (width, height) + flat


def test_multimodal_real_decode_executes_on_pnm(spark):
    """End-to-end decode through mapInPandas on real (uncompressed) image
    payloads — the decode body runs, not a raise path."""
    w, h = 16, 12
    gray = [(x * 7 + y * 13) % 256 for y in range(h) for x in range(w)]
    rgb = [((i * 3) % 256, (i * 5) % 256, (i * 11) % 256) for i in range(w * h)]
    pgm, ppm = _encode_pgm(w, h, gray), _encode_ppm(w, h, rgb)
    assets = spark.createDataFrame(
        [(1, bytearray(pgm)), (2, bytearray(ppm))],
        "asset_id long, content binary",
    )
    got = {r.asset_id: r for r in multimodal.decode_image_features(assets).collect()}

    # reference computation in plain python (shared codec helpers are
    # unit-tested below; here we recompute expectations independently)
    def expect(pixels):
        thumb = [
            pixels[min(int((j + 0.5) * h / 8), h - 1) * w + min(int((i + 0.5) * w / 8), w - 1)]
            for j in range(8) for i in range(8)
        ]
        return thumb[0], sum(thumb) % 1_000_003, sum(thumb) / 64

    f0, s0, m0 = expect(gray)
    assert (got[1].byte_length, got[1].first_byte) == (len(pgm), f0)
    assert (got[1].byte_sum_mod, got[1].mean_byte) == (s0, m0)

    luma = [(r * 299 + g * 587 + b * 114) // 1000 for r, g, b in rgb]
    f1, s1, m1 = expect(luma)
    assert (got[2].byte_length, got[2].first_byte) == (len(ppm), f1)
    assert (got[2].byte_sum_mod, got[2].mean_byte) == (s1, m1)


def test_phash_bands_match_reference(spark):
    w, h = 16, 12
    gray = [(x * 7 + y * 13) % 256 for y in range(h) for x in range(w)]
    assets = spark.createDataFrame(
        [(1, bytearray(_encode_pgm(w, h, gray)))], "asset_id long, content binary"
    )
    row = multimodal.phash_bands(assets).first()

    thumb = [
        gray[min(int((j + 0.5) * h / 8), h - 1) * w + min(int((i + 0.5) * w / 8), w - 1)]
        for j in range(8) for i in range(8)
    ]
    mean = sum(thumb) / 64.0
    expected = [
        sum((1 << k) for k in range(16) if thumb[16 * j + k] > mean) for j in range(4)
    ]
    assert [row.b0, row.b1, row.b2, row.b3] == expected


def test_phash_bands_passthrough_collision_raises_at_call_time(spark):
    assets = spark.createDataFrame(
        [(1, bytearray(b"P5\n1 1\n255\nx"), 7)],
        "asset_id long, content binary, b2 int",
    )
    with pytest.raises(ValueError, match="collide with the output schema"):
        multimodal.phash_bands(assets, passthrough=["b2"])


def test_hamming_banded_pairs_guarantee_and_valve(spark):
    # A/B differ in 2 bits (<= bands-1=3: candidate generation GUARANTEED
    # by pigeonhole), C differs from both in every band.
    rows = [
        (1, 0x0F0F, 0x1234, 0x00FF, 0x7777),
        (2, 0x0F0E, 0x1234, 0x00FF, 0x7775),  # 1 bit off in b0, 1 in b3
        (3, 0x7000, 0x0001, 0x5500, 0x0008),
    ]
    hashes = spark.createDataFrame(rows, "id long, b0 int, b1 int, b2 int, b3 int")
    got = dedup.hamming_banded_pairs(
        hashes, "id", ["b0", "b1", "b2", "b3"], bits_per_band=16, max_hamming=8
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 2)]

    # the df valve drops an oversized bucket from candidate generation:
    # give every row the same b1 so that bucket has df=3 > cap=2; the
    # (1,2) pair must still surface through its OTHER matching bands
    same_b1 = spark.createDataFrame(
        [(1, 0x0F0F, 7, 0x00FF, 0x7777), (2, 0x0F0E, 7, 0x00FF, 0x7775), (3, 0x7000, 7, 0x5500, 0x0008)],
        "id long, b0 int, b1 int, b2 int, b3 int",
    )
    capped = dedup.hamming_banded_pairs(
        same_b1, "id", ["b0", "b1", "b2", "b3"],
        bits_per_band=16, max_hamming=8, max_band_df=2,
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in capped] == [(1, 2, 2)]

    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_banded_pairs(
            hashes, "id", ["b0", "b1", "b2", "b3"], bits_per_band=16, max_hamming=64
        )


def test_audio_frame_features_match_reference(spark):
    payload = bytes([0, 255, 128, 127, 130, 90, 200, 128])  # 8 samples, seg=2
    assets = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b""))],
        "asset_id long, content binary",
    )
    rows = {
        (r.asset_id, r.frame_no): r
        for r in multimodal.audio_frame_features(assets).collect()
    }
    # empty payload emits nothing
    assert all(a == 1 for a, _ in rows)
    assert len(rows) == 4
    # frame 0 = [0, 255]: energy 128^2 + 127^2, one sign flip (0<128, 255>=128)
    assert rows[(1, 0)].energy == 128 * 128 + 127 * 127
    assert rows[(1, 0)].zero_crossings == 1
    # frame 1 = [128, 127]: 128 is >= center (positive), 127 below -> 1 flip
    assert rows[(1, 1)].energy == 0 + 1
    assert rows[(1, 1)].zero_crossings == 1
    # frame 3 = [200, 128]: both >= 128 -> no flip
    assert rows[(1, 3)].zero_crossings == 0
    assert rows[(1, 3)].n_samples == 2


def test_multimodal_decode_rejects_unknown_format(spark):
    # default path pins the pure-Python codec regardless of PIL presence
    assets = spark.createDataFrame(
        [(9, bytearray(b"\x89PNG not really"))], "asset_id long, content binary"
    )
    from py4j.protocol import Py4JJavaError  # noqa: PLC0415

    with pytest.raises((Py4JJavaError, Exception), match="asset 9|unsupported image format"):
        multimodal.decode_image_features(assets).collect()


def test_multimodal_decode_rejects_degenerate_dims(spark):
    assets = spark.createDataFrame(
        [(3, bytearray(b"P5 0 0 255\n"))], "asset_id long, content binary"
    )
    from py4j.protocol import Py4JJavaError  # noqa: PLC0415

    with pytest.raises((Py4JJavaError, Exception), match="asset 3|degenerate PNM"):
        multimodal.decode_image_features(assets).collect()


def test_pnm_codec_header_variants():
    from lakehouse_platform_nyc_taxi_spark.operators.multimodal import (
        _decode_pnm,
        _nearest_resize,
    )

    # comments + arbitrary whitespace in the header
    data = b"P5\n# comment line\n  3\t2\n# another\n255\n" + bytes(range(6))
    w, h, px = _decode_pnm(data)
    # pixels are an int64 ndarray since the r17 vectorization; the
    # VALUES are the pinned contract
    assert (w, h, list(px)) == (3, 2, list(range(6)))
    # truncated raster raises
    with pytest.raises(ValueError, match="truncated"):
        _decode_pnm(b"P5 3 2 255\n\x00\x01")
    with pytest.raises(ValueError, match="maxval"):
        _decode_pnm(b"P5 1 1 65535\n\x00\x00")
    # identity resize
    assert list(_nearest_resize(list(range(64)), 8, 8)) == list(range(64))


def test_fake_resize_bounds_output(spark, docs):
    from lakehouse_platform_nyc_taxi_spark.operators import multimodal

    assets = multimodal.attach_binary_payload(docs)
    out = multimodal.fake_resize(assets, width=4, height=4).collect()
    assert len(out) == docs.count()
    assert all(len(r.content) == 16 for r in out)
    assert all(r.width == 4 and r.height == 4 for r in out)
    # deterministic: same input -> same thumbnail
    again = multimodal.fake_resize(assets, width=4, height=4).collect()
    assert {r.asset_id: bytes(r.content) for r in out} == {
        r.asset_id: bytes(r.content) for r in again
    }


def test_fake_frame_sample_explodes(spark, docs):
    from lakehouse_platform_nyc_taxi_spark.operators import multimodal

    assets = multimodal.attach_binary_payload(docs)
    out = multimodal.fake_frame_sample(assets, n_frames=3)
    rows = out.collect()
    assert len(rows) == 3 * docs.count()  # every doc has >=3 bytes of text
    per_asset = {}
    for r in rows:
        per_asset.setdefault(r.asset_id, []).append(r.frame_no)
    assert all(sorted(v) == [0, 1, 2] for v in per_asset.values())


def test_winnowing_local_similarity_property(spark):
    """Shared substrings of length >= k+w-1 (=8) must contribute shared
    fingerprint hashes; disjoint texts share nothing."""
    from lakehouse_platform_nyc_taxi_spark.operators.text import winnowing_fingerprint

    common = "identical-shared-span-of-text"
    rows = [
        (1, f"prefix-A {common} suffix-A"),
        (2, f"other-B {common} tail-B"),
        (3, "zzz qqq www entirely unrelated"),
        (4, "abc"),  # shorter than k -> zero k-grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in winnowing_fingerprint(df).collect()}
    assert out[4].n_kgrams == 0 and out[4].n_selected == 0
    # recompute selected sets to check overlap (fingerprint is a digest,
    # so compare via a second run at the raw level: same doc -> same fp)
    again = {r.doc_id: r for r in winnowing_fingerprint(df).collect()}
    assert out[1].winnow_fingerprint == again[1].winnow_fingerprint
    assert out[1].winnow_fingerprint != out[3].winnow_fingerprint
    assert 0 < out[1].n_selected <= out[1].n_kgrams


def test_ivf_topk_recalls_exact_neighbors(spark):
    """IVF with enough probes must find the query itself and its true
    nearest neighbor (both land in the query's own cell here)."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(200, 8)).astype("float32")
    vecs[5] = vecs[0] * 0.9 + rng.normal(size=8).astype("float32") * 0.01
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))

    brute = [r.vec_id for r in similarity.cosine_topk(emb, q, k=3).collect()]
    ivf = [
        r.vec_id
        for r in similarity.cosine_topk_ivf(emb, q, k=3, n_cells=8, n_probe=3).collect()
    ]
    assert brute[0] == 0 and 5 in brute[:2]
    assert ivf[0] == 0  # query's own cell always probed
    assert len(ivf) == 3


def test_connected_components_clusters_chains(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    for pj in (True, False):  # pointer-jumping and plain propagation agree
        out = {
            r.id: r.cluster
            for r in dedup.connected_components(
                pairs, pointer_jumping=pj
            ).collect()
        }
        assert {out[1], out[2], out[3], out[4]} == {1}  # chain -> min id
        assert {out[10], out[11]} == {10}
        assert {out[20], out[21], out[22]} == {20}


def test_hash_sampling_deterministic_and_leak_proof(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        hash_sample,
        per_group_cap,
        train_val_test_split,
    )

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(1000)], "doc_id long, source string"
    )
    s1 = {r.doc_id for r in hash_sample(df, "doc_id", 0.1).collect()}
    s2 = {r.doc_id for r in hash_sample(df, "doc_id", 0.1).collect()}
    assert s1 == s2 and 40 < len(s1) < 200  # deterministic, ~10%
    # growing the rate only ADDS keys (nested samples)
    s_big = {r.doc_id for r in hash_sample(df, "doc_id", 0.2).collect()}
    assert s1 <= s_big

    split = train_val_test_split(df, "doc_id")
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] + counts["test"]
    # a key appears in exactly one split
    assert split.select("doc_id").distinct().count() == 1000

    capped = per_group_cap(df, "source", 5, "doc_id")
    per_src = {r.source: r.n for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(n == 5 for n in per_src.values())
    again = {r.doc_id for r in per_group_cap(df, "source", 5, "doc_id").collect()}
    assert again == {r.doc_id for r in capped.collect()}


def test_minhash_lsh_rejects_indivisible_bands(docs):
    import pytest

    with pytest.raises(ValueError, match="divide evenly"):
        dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=3)


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    # local_edges=0 forces the distributed loop (the union-find fast
    # path has no iteration budget to exhaust)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1, local_edges=0)


def test_connected_components_local_vs_distributed_agree(spark):
    """The union-find fast path and the min-label loop must produce
    identical (id, cluster) labels — chain, star, and singleton-free
    mixed shapes."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    local = {
        (r.id, r.cluster) for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        (r.id, r.cluster)
        for r in dedup.connected_components(pairs, local_edges=0).collect()
    }
    assert local == dist
    assert local == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_ngram_jaccard_df_cap_skew_valve(spark):
    """A boilerplate gram shared by every doc in the block is O(df²) in
    the posting-list join; the df cap drops it from the join while set
    sizes stay exact, so true near-dups (whose overlap is mostly rare
    grams) survive with a lower-bound jaccard."""
    boiler = "legal disclaimer boilerplate header common to all documents"
    tail = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} unique filler {i} {i} {i}", "s") for i in range(20)]
    rows.append((100, f"{boiler} {tail}", "s"))
    rows.append((101, f"{boiler} {tail} extra", "s"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "source", min_jaccard=0.3).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "source", min_jaccard=0.3, max_gram_df=5
        ).collect()
    }
    assert (100, 101) in exact and (100, 101) in capped
    # capped jaccard is a lower bound (hot grams removed from |A∩B| only)
    assert capped[(100, 101)] <= exact[(100, 101)]
    # the boilerplate-only pairs never meet after the cap
    assert all(p == (100, 101) for p in capped)


# ------------------------------------------------- exact substring dedup
def test_exact_substring_finds_span_with_positions(spark):
    span = " ".join(f"s{i}" for i in range(1, 11))  # 10 shared tokens
    rows = [
        (1, f"w1 w2 {span} w3 w4"),         # span at tokens 3..12
        (2, f"x1 {span} x2 x3"),            # span at tokens 2..11
        (3, "y1 y2 s1 s2 s3 s4 s5 y3 y4"),  # only 5 shared: under L=8
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.a_start, r.b_start, r.overlap_tokens)
        for r in dedup.exact_substring_pairs(
            docs, window_tokens=4, min_overlap_tokens=8
        ).collect()
    }
    assert got == {(1, 2): (3, 2, 10)}


def test_exact_substring_separate_spans_one_row_each(spark):
    p = " ".join(f"p{i}" for i in range(8))
    q = " ".join(f"q{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(4, f"{p} z1 z2 {q}"), (5, f"{q} m1 m2 {p}")],
        "doc_id long, text string",
    )
    got = {
        (r.a_start, r.b_start): r.overlap_tokens
        for r in dedup.exact_substring_pairs(
            docs, window_tokens=4, min_overlap_tokens=8
        ).collect()
    }
    # two 8-token spans on different diagonals -> two rows, never merged
    assert got == {(1, 11): 8, (11, 1): 8}


def test_exact_substring_window_df_cap_drops_boilerplate(spark):
    boiler = "this content is provided as is without warranty"
    rows = [(i, f"unique{i} {boiler} tail{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.exact_substring_pairs(
        docs, window_tokens=4, min_overlap_tokens=8, max_window_df=None
    ).count()
    capped = dedup.exact_substring_pairs(
        docs, window_tokens=4, min_overlap_tokens=8, max_window_df=4
    ).count()
    # 6 docs share the 8-token boilerplate -> C(6,2)=15 pairs uncapped;
    # every window's df is 6 > 4, so the cap drops the whole span
    assert uncapped == 15 and capped == 0


def test_strip_duplicate_spans_keep_first_and_merge(spark):
    span = " ".join(f"s{i}" for i in range(1, 11))
    docs = spark.createDataFrame(
        [
            (1, f"w1 w2 {span} w3 w4"),   # canonical (lowest id): untouched
            (2, f"x1 {span} x2 x3"),      # loses the span
            (3, "plain doc here"),        # no spans at all
        ],
        "doc_id long, text string",
    )
    pairs = dedup.exact_substring_pairs(docs, window_tokens=4, min_overlap_tokens=8)
    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in dedup.strip_duplicate_spans(docs, pairs).collect()}
    assert got[1] == (f"w1 w2 {span} w3 w4", 0)
    assert got[2] == ("x1 x2 x3", 10)
    assert got[3] == ("plain doc here", 0)


def test_strip_duplicate_spans_merges_overlapping_intervals(spark):
    # doc 9 has two partners whose spans overlap inside it: tokens 1..8
    # (from doc 1) and 5..12 (from doc 2) -> merged removal 1..12, not 16
    docs = spark.createDataFrame(
        [
            (9, " ".join(f"t{i}" for i in range(1, 13)) + " tail1 tail2"),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 9, 1, 1, 8), (2, 9, 1, 5, 8)],
        "doc_a long, doc_b long, a_start long, b_start long, overlap_tokens long",
    )
    [r] = dedup.strip_duplicate_spans(docs, spans).collect()
    assert r.text == "tail1 tail2"
    assert r.n_tokens_removed == 12


def test_self_substring_finds_and_strips_repeat(spark):
    docs = spark.createDataFrame(
        [
            (1, "x1 a b c d e x2 x3 a b c d e x4"),  # 5-token repeat at 9
            (2, "p q r s t u v w"),                   # no repeats
        ],
        "doc_id long, text string",
    )
    spans = dedup.self_substring_spans(docs, window_tokens=3, min_overlap_tokens=5)
    assert [tuple(r) for r in spans.collect()] == [(1, 2, 9, 5)]
    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in dedup.strip_self_repeats(docs, spans).collect()}
    assert got[1] == ("x1 a b c d e x2 x3 x4", 5)
    assert got[2] == ("p q r s t u v w", 0)


def test_self_substring_periodic_text_keeps_first_period(spark):
    # "a b" repeated 4x: every later period matches the first; stripping
    # the repeat occurrences leaves exactly one period
    docs = spark.createDataFrame(
        [(1, "a b a b a b a b")], "doc_id long, text string"
    )
    spans = dedup.self_substring_spans(docs, window_tokens=2, min_overlap_tokens=2)
    [r] = dedup.strip_self_repeats(docs, spans).collect()
    assert r.text == "a b"
    assert r.n_tokens_removed == 6


def test_exact_substring_validates_params(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_overlap_tokens"):
        dedup.exact_substring_pairs(docs, window_tokens=8, min_overlap_tokens=4)
    with pytest.raises(ValueError, match="window_tokens"):
        dedup.exact_substring_pairs(docs, window_tokens=1)


def test_ivf_build_probe_split_and_full_probe_equals_brute(spark):
    """build once / probe many; probing ALL cells must equal brute force
    (IVF with n_probe = n_cells is exact); kmeans method still works."""
    import numpy as np

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(150, 8)))],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("qv"))

    index = similarity.build_ivf_index(emb, n_cells=8, method="hash")
    assert index.assigned.count() == 150
    cells = [r.cell for r in index.assigned.select("cell").distinct().collect()]
    assert all(0 <= c < 8 for c in cells)

    brute = [(r.vec_id, r.score) for r in similarity.cosine_topk(emb, q, k=5).collect()]
    full = [(r.vec_id, r.score) for r in similarity.ivf_probe(index, q, k=5, n_probe=8).collect()]
    assert brute == full
    # two probes reuse one build; each returns k rows
    assert similarity.ivf_probe(index, q, k=3, n_probe=2).count() == 3
    km = similarity.cosine_topk_ivf(emb, q, k=3, n_cells=4, n_probe=4, method="kmeans")
    assert km.count() == 3


def test_cosine_topk_batch_matches_single(spark):
    """Each qid's slice of the batch result equals the single-query top-k."""
    from .conftest import SF_ORACLE
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    batch = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = similarity.cosine_topk_batch(emb, batch, k=5).collect()
    for qid in (0, 1):
        single = similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qv")), k=5
        ).collect()
        mine = sorted(
            ((r.vec_id, r.score) for r in got if r.qid == qid),
            key=lambda t: (-t[1], t[0]),
        )
        assert mine == [(r.vec_id, r.score) for r in single]


def test_ivf_probe_batch_matches_single_probe(spark):
    from .conftest import SF_ORACLE
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    index = similarity.build_ivf_index(emb, n_cells=8)
    batch = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = similarity.ivf_probe_batch(index, batch, k=5, n_probe=2).collect()
    for qid in (0, 1):
        single = similarity.ivf_probe(
            index,
            emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qv")),
            k=5,
            n_probe=2,
        ).collect()
        mine = sorted(
            ((r.vec_id, r.score) for r in got if r.qid == qid),
            key=lambda t: (-t[1], t[0]),
        )
        assert mine == [(r.vec_id, r.score) for r in single]


def test_curate_corpus_stages(spark):
    """Quality filter, dedup-canonical, cap, and split all visibly applied."""
    from lakehouse_platform_nyc_taxi_spark.operators.curation import (
        curate_corpus,
        curation_summary,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and runs far away today "
        "with many more plain words to clear the minimum token count easily"
    )
    rows = [(i, good + f" variant {i}", "srcA") for i in range(20)]
    rows += [(100, good + " variant 0", "srcA")]          # exact dup of doc 0
    rows += [(200, "short junk!!!", "srcB")]              # fails quality
    rows += [(i + 300, good + f" tail {i}", "srcB") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    # cap high enough not to bite: quality/dedup/split assertions
    out = curate_corpus(docs, cap_per_source=50, val_rate=0.2, test_rate=0.2)
    got = out.collect()
    ids = {r.doc_id for r in got}
    assert 200 not in ids                 # low quality dropped
    assert 100 not in ids and 0 in ids    # canonical (min id) kept, dup dropped
    assert len(got) == 30                 # 20 srcA (1 dup dropped... dup is id 100) + 10 srcB
    assert set(r.split for r in got) <= {"train", "val", "test"}

    summ = {(r.source, r.split): r.n_docs for r in curation_summary(out).collect()}
    assert sum(summ.values()) == len(got)

    # tight cap: per-source ceiling enforced on the deduped population
    capped = curate_corpus(docs, cap_per_source=5).collect()
    per_src = {}
    for r in capped:
        per_src[r.source] = per_src.get(r.source, 0) + 1
    assert per_src == {"srcA": 5, "srcB": 5}
    assert 100 not in {r.doc_id for r in capped}


def test_incremental_exact_dedup_against_store(spark):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string, source string")
    b1 = mk([(1, "alpha beta", "s"), (2, "ALPHA  beta", "s"), (3, "gamma", "s")])
    fresh1, dig1 = dedup.incremental_exact_dedup(b1, None)
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 3]  # 2 normalizes to 1

    store = dig1.localCheckpoint()
    b2 = mk([(10, "alpha beta", "s"), (11, "delta", "s"), (12, "delta", "s")])
    fresh2, dig2 = dedup.incremental_exact_dedup(b2, store)
    assert sorted(r.doc_id for r in fresh2.collect()) == [11]  # 10 seen, 12 in-batch dup
    assert dig2.count() == 1

    # idempotent redelivery: union the store, re-run the same batch
    store2 = store.union(dig2).localCheckpoint()
    fresh3, _ = dedup.incremental_exact_dedup(b2, store2)
    assert fresh3.count() == 0


def test_documents_corpus_is_pure_ascii():
    """Pin the invariant the multimodal_features oracle depends on: that
    oracle equates per-character ord(ch) with per-byte values
    (harness/llm.py), which holds ONLY for pure-ASCII text. If testdata
    ever grows non-ASCII documents, this fails loudly instead of the
    oracle silently diverging on byte_length/byte_sum_mod/mean_byte."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        con = duckdb.connect()
        (max_cp,) = con.sql(
            "SELECT max(list_max(list_transform(split(text, ''), "
            f"ch -> ord(ch)))) FROM '/root/testdata/sf{sf}/documents.parquet'"
        ).fetchone()
        con.close()
        assert max_cp is not None and max_cp < 128, (
            f"sf{sf} documents contain non-ASCII (max code point {max_cp}); "
            "the multimodal_features oracle's ord==byte assumption is broken"
        )


def test_int8_quantization_error_bound_and_recall(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import similarity
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    q = similarity.quantize_int8(emb)
    rows = q.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert all(-127 <= x <= 127 for x in r.q_int8)
        # half-away rounding keeps reconstruction within half a step
        assert r.max_abs_err <= r.scale / 2 + 1e-12

    # quantized top-10 must broadly agree with the exact brute force
    query = emb.filter("vec_id = 0").selectExpr("embedding AS qv")
    exact = [r.vec_id for r in similarity.cosine_topk(emb, query, k=10).collect()]
    approx = [r.vec_id for r in similarity.int8_topk(emb, query, k=10).collect()]
    assert len(set(exact) & set(approx)) >= 7
    assert approx[0] == 0  # the query vector itself still ranks first

    # operator is a pure mapper: no Exchange in its own plan
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_temperature_resample_flattens_mixture(spark):
    import pytest as _pytest

    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        temperature_resample,
    )

    rows = (
        [(i, "big") for i in range(900)]
        + [(i + 1000, "mid") for i in range(400)]
        + [(i + 2000, "small") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    kept = temperature_resample(df, "source", "doc_id", alpha=0.5)
    by_src = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # smallest source kept whole; larger sources downsampled toward
    # rate (n_min/n)^0.5 -> expected ~300 of 900, ~200 of 400
    assert by_src["small"] == 100
    assert 200 <= by_src["big"] <= 400
    assert 130 <= by_src["mid"] <= 270
    # natural mixture at alpha=1: everything kept
    assert temperature_resample(df, "source", "doc_id", alpha=1.0).count() == 1400
    # deterministic across reruns
    assert kept.count() == temperature_resample(df, "source", "doc_id", alpha=0.5).count()
    with _pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, "source", "doc_id", alpha=1.5)


def test_temperature_resample_guards_group_cardinality(spark):
    import pytest as _pytest

    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        temperature_resample,
    )

    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.col("id").alias("source")
    )
    with _pytest.raises(ValueError, match="max_groups"):
        temperature_resample(df, "source", "doc_id", max_groups=10)
    # at-or-under the cap works
    assert temperature_resample(df, "source", "doc_id", max_groups=50).count() == 50


def test_dimension_covariance_exact_matches_numpy_and_fast_twin(spark):
    import numpy as np

    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        dimension_covariance,
        dimension_covariance_fast,
    )
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    X = np.asarray(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()]
    )
    want = np.cov(X, rowvar=False, bias=True)  # population covariance

    exact = {
        (r.dim_i, r.dim_j): (r.n, r.cov)
        for r in dimension_covariance(emb).collect()
    }
    d = X.shape[1]
    assert len(exact) == d * d
    for (i, j), (n, cov) in exact.items():
        assert n == len(X)
        assert abs(cov - want[i, j]) < 1e-8, (i, j, cov, want[i, j])

    fast = {
        (r.dim_i, r.dim_j): r.cov
        for r in dimension_covariance_fast(emb.repartition(7)).collect()
    }
    assert len(fast) == d * d
    for key, (_, cov) in exact.items():
        assert abs(fast[key] - cov) < 1e-9, key


def test_collocations_counts_and_lift(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [(i, "new york is big and new york is old") for i in range(5)]
        + [(100 + i, "the cat sat") for i in range(5)],
        "doc_id long, text string",
    )
    got = {(r.w1, r.w2): (r.c_big, r.lift) for r in collocations(docs, min_count=5).collect()}
    # "new york" occurs twice per doc in 5 docs = 10; "york is" too
    assert got[("new", "york")][0] == 10
    assert got[("york", "is")][0] == 10
    assert got[("the", "cat")][0] == 5
    # bigrams of words that only ever co-occur get the highest lift:
    # check ordering property instead of exact constants
    assert got[("the", "cat")][1] > got[("new", "york")][1] * 0.9
    # deterministic: rerun equal
    again = {(r.w1, r.w2): (r.c_big, r.lift) for r in collocations(docs, min_count=5).collect()}
    assert got == again


def test_weighted_sample_is_deterministic_and_weight_proportional(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        # half the corpus at weight 0.9, half at 0.1
        F.when(F.col("id") % 2 == 0, F.lit(0.9)).otherwise(F.lit(0.1)).alias("w"),
    )
    kept = weighted_sample(df, "doc_id", F.col("w"))
    heavy = kept.filter("w > 0.5").count()
    light = kept.filter("w < 0.5").count()
    assert 1600 <= heavy <= 2000   # ~0.9 * 2000
    assert 100 <= light <= 320     # ~0.1 * 2000
    # deterministic reruns; clamping never keeps w<=0 nor drops w>=1
    assert kept.count() == weighted_sample(df, "doc_id", F.col("w")).count()
    allw = df.withColumn("w", F.lit(1.5))
    assert weighted_sample(allw, "doc_id", F.col("w")).count() == 4000
    now = df.withColumn("w", F.lit(-0.2))
    assert weighted_sample(now, "doc_id", F.col("w")).count() == 0
    # zero-shuffle plan
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_ranks_query_term_docs(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = text.bm25_topk(docs, ["spark", "join", "vector"], k=10).collect()
    assert len(out) == 10
    # Every returned doc matched at least one query term; scores descend
    # with doc_id tiebreak, and are strictly positive.
    scores = [(r["bm25"], r["doc_id"]) for r in out]
    assert all(r["n_match"] >= 1 for r in out)
    assert all(s > 0 for s, _ in scores)
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    # A doc containing none of the terms scores 0 and is excluded.
    from pyspark.sql import functions as SF

    nomatch = docs.filter(
        ~SF.col("text").rlike(r"\b(spark|join|vector)\b")
    ).select("doc_id").limit(1).collect()
    if nomatch:
        assert all(r["doc_id"] != nomatch[0]["doc_id"] for r in out)


def test_lm_surprisal_flags_rare_token_docs(spark):
    from pyspark.sql import functions as SF

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = text.lm_surprisal_stats(docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    # Token counts agree with the row-local token counter.
    counts = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", SF.size(text.tokens(SF.col("text"))).alias("n")
        ).collect()
    }
    for did, r in rows.items():
        assert r["n_tokens"] == counts[did]
        assert 0 < r["avg_nll"] <= r["max_nll"]


def test_random_projection_preserves_cosine_roughly(spark):
    import math

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    proj = similarity.random_projection(emb, out_dim=8, in_dim=64)
    rows = {r["vec_id"]: [r[f"p{j}"] for j in range(8)] for r in proj.collect()}
    base = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    assert rows.keys() == base.keys()

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den

    ids = sorted(rows)[:40]
    errs = []
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        errs.append(abs(cos(base[a], base[b]) - cos(rows[a], rows[b])))
    # JL with 8 dims is coarse; the *average* distortion stays bounded.
    assert sum(errs) / len(errs) < 0.45


def test_rrf_fuse_combines_ranked_lists(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, rank long")
    b = spark.createDataFrame([(3, 1), (4, 2)], "id long, rank long")
    out = {r["id"]: r for r in similarity.rrf_fuse([a, b], id_col="id", k=10).collect()}
    # Doc 3 appears in both lists -> highest fused score.
    assert max(out, key=lambda i: out[i]["rrf"]) == 3
    expected = round(1.0 / 61 + 1.0 / 63, 6)
    assert abs(out[3]["rrf"] - expected) < 1e-9
    # Doc 4 only in list b: rank_0 is NULL, still scored.
    assert out[4]["rank_0"] is None and out[4]["rrf"] > 0


def test_pca_project_matches_numpy(spark):
    import numpy as np

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    comps, eigvals, mu = similarity.pca_components(emb, n_components=4)
    assert len(comps) == 4 and len(comps[0]) == 64
    # Eigenvalues descend and are non-negative for a covariance matrix.
    assert all(
        eigvals[i] >= eigvals[i + 1] - 1e-12 for i in range(len(eigvals) - 1)
    )
    assert eigvals[-1] > -1e-9
    proj = similarity.pca_project(emb, comps, mu)
    got = {r["vec_id"]: [r[f"pc{j}"] for j in range(4)] for r in proj.collect()}
    X = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").collect()]
    C = np.array(comps)
    want = (X - np.array(mu)) @ C.T
    for i, vid in enumerate(ids[:50]):
        np.testing.assert_allclose(got[vid], want[i], rtol=1e-6, atol=1e-6)
    # Projected variance along the top component ~= its eigenvalue.
    var0 = np.var((X - np.array(mu)) @ C[0])
    assert abs(var0 - eigvals[0]) / max(eigvals[0], 1e-9) < 0.05


def test_ngram_containment_catches_doc_in_doc(spark):
    big = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    small = "gamma delta epsilon zeta"  # 2 trigrams, both inside big
    df = spark.createDataFrame(
        [(0, big, "s"), (1, small, "s"), (2, "one two three four five", "s")],
        "doc_id long, text string, source string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.ngram_containment_pairs(
            df, block_col="source", min_containment=0.9
        ).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)]["containment"] == 1.0
    assert pairs[(0, 1)]["n_shared"] == 2
    # Jaccard at the same pair is far below any dedup threshold
    jac = dedup.ngram_jaccard_pairs(
        df, block_col="source", min_jaccard=0.01
    ).collect()
    assert all(r["jaccard"] < 0.5 for r in jac)


def test_ivf_index_persists_as_snapshot_tables(spark, tmp_path):
    from pyspark.sql import functions as SF

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(SF.col("vec_id") == 0).select(SF.col("embedding").alias("qv"))
    idx = similarity.build_ivf_index(emb, n_cells=8)
    want = [tuple(r) for r in similarity.ivf_probe(idx, q, k=5).collect()]

    path = str(tmp_path / "ivf_index")
    v1 = similarity.save_ivf_index(idx, path)
    loaded = similarity.load_ivf_index(spark, path)
    got = [tuple(r) for r in similarity.ivf_probe(loaded, q, k=5).collect()]
    assert got == want and len(got) == 5

    # atomic rebuild: new version, old version still probes identically
    idx2 = similarity.build_ivf_index(emb, n_cells=4)
    v2 = similarity.save_ivf_index(idx2, path)
    assert v2[0] == v1[0] + 1
    pinned = similarity.load_ivf_index(spark, path, version=v1)
    got_pinned = [
        tuple(r) for r in similarity.ivf_probe(pinned, q, k=5).collect()
    ]
    assert got_pinned == want
    fresh = similarity.load_ivf_index(spark, path)
    assert fresh.n_cells == 4


def test_token_budget_sample_boundary_and_default(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, "a", 40) for i in range(10)] + [(100, "zzz", 5)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = token_budget_sample(
        df, "doc_id", "source", "n_tokens",
        budgets={"a": 100}, default_budget=0,
    ).collect()
    # 40+40 fits; the third doc would cross 100 -> dropped whole
    assert len(out) == 2
    assert all(r.source == "a" for r in out)
    assert sorted(r.cum_tokens for r in out) == [40, 80]
    # default_budget=0 drops unknown sources entirely
    assert not [r for r in out if r.source == "zzz"]

    # deterministic: same result on rerun
    again = token_budget_sample(
        df, "doc_id", "source", "n_tokens",
        budgets={"a": 100}, default_budget=0,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---------------------------------------------------------------- property
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


def _ref_substring_spans(ta, tb, k, min_overlap):
    """Independent pure-Python reference for exact_substring_pairs on ONE
    doc pair: window-match diagonals -> maximal runs -> spans >= L, with
    1-based (a_start, b_start, overlap) tuples."""
    wb = {}
    for j in range(len(tb) - k + 1):
        wb.setdefault(tuple(tb[j : j + k]), []).append(j)
    by_diag = {}
    for i in range(len(ta) - k + 1):
        for j in wb.get(tuple(ta[i : i + k]), []):
            by_diag.setdefault(i - j, []).append(i)
    out = set()
    for d, iis in by_diag.items():
        iis.sort()
        run_start, prev = iis[0], iis[0]
        for i in iis[1:] + [None]:
            if i is not None and i == prev + 1:
                prev = i
                continue
            overlap = prev - run_start + k
            if overlap >= min_overlap:
                out.add((run_start + 1, run_start - d + 1, overlap))
            if i is not None:
                run_start = prev = i
    return out


if _HYP:

    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b"]), min_size=1, max_size=12),
            min_size=2,
            max_size=5,
        ),
        st.integers(2, 3),
    )
    @settings(max_examples=8, deadline=None)
    def test_exact_substring_matches_reference(spark, docs_tokens, k):
        """The distributed window-hash + gaps-and-islands pipeline must
        equal the per-pair reference on a 2-letter alphabet (maximal
        window collisions, repeated windows within one doc, runs touching
        both document ends)."""
        L = k + 1
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_a, r.doc_b, r.a_start, r.b_start, r.overlap_tokens)
            for r in dedup.exact_substring_pairs(
                df, window_tokens=k, min_overlap_tokens=L, max_window_df=None
            ).collect()
        }
        want = {
            (ia, ib, s_a, s_b, ov)
            for ia, ta in enumerate(docs_tokens)
            for ib, tb in enumerate(docs_tokens)
            if ia < ib
            for (s_a, s_b, ov) in _ref_substring_spans(ta, tb, k, L)
        }
        assert got == want


def _ref_self_spans(toks, k, min_overlap):
    """Independent reference for self_substring_spans on one doc:
    within-doc window matches (i < j) -> diagonal runs -> spans >= L."""
    pos = {}
    for i in range(len(toks) - k + 1):
        pos.setdefault(tuple(toks[i : i + k]), []).append(i)
    by_diag = {}
    for plist in pos.values():
        for a in plist:
            for b in plist:
                if a < b:
                    by_diag.setdefault(b - a, []).append(a)
    out = set()
    for d, iis in by_diag.items():
        iis = sorted(set(iis))
        run_start, prev = iis[0], iis[0]
        for i in iis[1:] + [None]:
            if i is not None and i == prev + 1:
                prev = i
                continue
            overlap = prev - run_start + k
            if overlap >= min_overlap:
                out.add((run_start + 1, run_start + d + 1, overlap))
            if i is not None:
                run_start = prev = i
    return out


if _HYP:

    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b"]), min_size=1, max_size=14),
            min_size=1,
            max_size=4,
        ),
        st.integers(2, 3),
    )
    @settings(max_examples=8, deadline=None)
    def test_self_substring_matches_reference(spark, docs_tokens, k):
        """Within-doc repetition must equal the per-doc reference on a
        2-letter alphabet — periodic text produces overlapping matches
        on every period-multiple diagonal, the hardest case for the
        islands bookkeeping."""
        L = k + 1
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_id, r.first_start, r.repeat_start, r.overlap_tokens)
            for r in dedup.self_substring_spans(
                df, window_tokens=k, min_overlap_tokens=L, max_window_df=None
            ).collect()
        }
        want = {
            (i, s, rs, ov)
            for i, toks in enumerate(docs_tokens)
            for (s, rs, ov) in _ref_self_spans(toks, k, L)
        }
        assert got == want


def test_kmeans_semdedup_flags_exact_dups_keep_first(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),   # exact dup of 1 -> same cluster, flagged
        (3, [0.6, 0.8]),   # cos 0.6 / 0.8 to the axes: never >= 0.9
        (4, [0.0, 1.0]),
        (5, [0.0, 1.0]),   # exact dup of 4 -> flagged
        (6, [-1.0, 0.0]),  # anti-parallel to 1: cos -1, never flagged
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r.asDict()
        for r in similarity.kmeans_semdedup(df, k=2, iters=2, tau=0.9).collect()
    }
    assert len(out) == 6
    # identical vectors always share a cluster (identical score arrays):
    assert out[1]["cluster"] == out[2]["cluster"]
    assert out[4]["cluster"] == out[5]["cluster"]
    # keep-lowest-id: the lower id of each dup pair survives:
    assert not out[1]["is_dup"] and out[2]["is_dup"]
    assert not out[4]["is_dup"] and out[5]["is_dup"]
    # sub-threshold / anti-parallel vectors are never duplicates:
    assert not out[3]["is_dup"] and not out[6]["is_dup"]
    assert all(r["cluster"] in (0, 1) for r in out.values())


def test_kmeans_semdedup_derives_k_from_corpus_size(spark):
    """With k unset the operator sizes k ~ sqrt(n) (floored at 2, capped
    at 16384) so within-cluster pairwise work stays linear as the
    corpus grows (VERDICT r11 #6). 36 rows -> k = 6."""
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(36)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_semdedup(df, iters=1, tau=0.99)
    got = out.collect()
    assert len(got) == 36
    clusters = {r["cluster"] for r in got}
    assert clusters <= set(range(6)), clusters
    # tiny corpora never derive a degenerate k < 2:
    tiny = spark.createDataFrame(rows[:2], "vec_id long, embedding array<float>")
    assert similarity.kmeans_semdedup(tiny, iters=1).count() == 2


def test_kmeans_semdedup_zero_norm_vectors_survive(spark):
    """A zero vector scores NaN against every centroid; the reassignment
    must not crash on element_at(cells, 0) (ADVICE r10 #4) and the zero
    vector must never be flagged dup (cosine to it is undefined)."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [0.0, 0.0]),  # zero norm
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r.asDict()
        for r in similarity.kmeans_semdedup(df, k=2, iters=2, tau=0.9).collect()
    }
    assert len(out) == 4
    assert not out[3]["is_dup"]
    assert not out[1]["is_dup"] and out[2]["is_dup"]


def test_kmeans_semdedup_deterministic_across_runs(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(
        similarity.kmeans_semdedup(df, k=4, iters=2, tau=0.95).collect(),
        key=lambda r: r["vec_id"],
    )
    b = sorted(
        similarity.kmeans_semdedup(
            df.repartition(7), k=4, iters=2, tau=0.95
        ).collect(),
        key=lambda r: r["vec_id"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_cluster_survivors_longest_wins_singletons_survive(spark):
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (9, 70)],
        "doc_id long, n_chars long",
    )
    # one 3-member cluster {1,2,3} labeled by its min id; 4 and 9 are
    # singletons (absent from the cluster table entirely):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, cluster long"
    )
    out = {
        r["cluster"]: r.asDict()
        for r in dedup.cluster_survivors(docs, clusters).collect()
    }
    assert len(out) == 3
    # longest doc wins; the 300-char tie breaks to the LOWER id (2):
    assert out[1]["survivor_id"] == 2 and out[1]["survivor_chars"] == 300
    assert out[1]["n_members"] == 3
    assert out[4]["survivor_id"] == 4 and out[4]["n_members"] == 1
    assert out[9]["survivor_id"] == 9 and out[9]["n_members"] == 1


def _pq_fixture(spark):
    # 12 vectors in 4 dims -> m=2 subspaces of 2 dims, k=2 cells each.
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.choice([-1.0, 1.0]) + rng.random() * 0.1 for _ in range(4)])
        for i in range(12)
    ]
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_train_encode_code_contract(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        pq_train_encode,
    )

    _, df = _pq_fixture(spark)
    codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=2, seed="t")
    got = codes.collect()
    # exactly m codes per vector, every cell a trained centroid of its sub
    per_vec = {}
    for r in got:
        per_vec.setdefault(r.vec_id, set()).add(r.sub)
        assert r.cell in {c for c, _, _ in book.cents[r.sub]}
    assert all(subs == {0, 1} for subs in per_vec.values())
    assert len(per_vec) == 12
    # centroid vectors have subspace width and finite norms
    for sub, rows in book.cents.items():
        for cell, cv, cnrm in rows:
            assert len(cv) == 2 and cnrm >= 0.0


def test_pq_adc_topk_deterministic_and_self_hit(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    rows, df = _pq_fixture(spark)
    codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=2, seed="t")
    qv = [float(x) for x in rows[0][1]]
    a = pq_adc_topk(codes, book, qv, k=5).collect()
    b = pq_adc_topk(codes, book, qv, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 5
    # scores are sorted desc with id tiebreak
    key = [(-r.score, r.vec_id) for r in a]
    assert key == sorted(key)
    # the query vector itself ranks in the top half: ADC reconstructs its
    # own cell centroids, the nearest representation PQ has of it
    assert 0 in {r.vec_id for r in a}


def test_pq_adc_batch_matches_single_query_path(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_batch,
        pq_train_encode,
    )
    from pyspark.sql import functions as SF

    rows, df = _pq_fixture(spark)
    codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=2, seed="t")
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (0, 3)], "qid long, qv array<float>"
    )
    batch = pq_adc_topk_batch(codes, book, queries, k=4).collect()
    for qid in (0, 3):
        single = pq_adc_topk(
            codes, book, [float(x) for x in rows[qid][1]], k=4
        ).collect()
        got = [(r.vec_id, r.score) for r in batch if r.qid == qid]
        want = [(r.vec_id, r.score) for r in single]
        assert got == want, (qid, got, want)


def test_pq_adc_batch_accepts_string_and_int_qids(spark):
    """The batch LUT frame derives the qid type from the query frame
    (ADVICE r10 #2) — string and int ids must work, not just long."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        pq_adc_topk_batch,
        pq_train_encode,
    )

    rows, df = _pq_fixture(spark)
    codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=2, seed="t")
    for schema, ids in (
        ("qid string, qv array<float>", ["a", "b"]),
        ("qid int, qv array<float>", [0, 3]),
    ):
        queries = spark.createDataFrame(
            [(ids[j], rows[i][1]) for j, i in enumerate((0, 3))], schema
        )
        out = pq_adc_topk_batch(codes, book, queries, k=3).collect()
        assert {r.qid for r in out} == set(ids)
        assert len(out) == 6


def test_lsh_precision_flags_true_dups_per_est_level(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1: est 1.0, true jaccard 1.0
        (3, "completely different words about spark catalyst optimizer"),
        (4, "unrelated sentence mentioning parquet files and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["jaccard_est"]: r.asDict()
        for r in dedup.lsh_precision(df).collect()
    }
    # the exact-dup pair collides in every band with all sigs agreeing
    assert 1.0 in out
    top = out[1.0]
    assert top["n_true_pairs"] >= 1
    assert top["precision_at_true"] == top["n_true_pairs"] / top["n_pairs"]
    assert 0.0 <= top["mean_true_jaccard"] <= 1.0
    # buckets partition the candidate set: counts are all positive
    assert all(v["n_pairs"] >= 1 for v in out.values())


def test_centroid_drift_parallel_and_orthogonal_groups(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        centroid_drift,
    )

    rows = [
        # group 0 and 1 both center on the x axis -> cosine 1.0
        (0, [1.0, 0.0]), (0, [3.0, 0.0]),
        (1, [2.0, 0.0]),
        # group 2 centers on y -> orthogonal to both
        (2, [0.0, 1.0]), (2, [0.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {
        (r.label_a, r.label_b): r.asDict()
        for r in centroid_drift(df).collect()
    }
    assert len(out) == 3
    assert out[(0, 1)]["centroid_cosine"] == 1.0
    assert out[(0, 2)]["centroid_cosine"] == 0.0
    assert out[(1, 2)]["centroid_cosine"] == 0.0
    assert out[(0, 1)]["n_a"] == 2 and out[(0, 1)]["n_b"] == 1


def test_sampled_estimate_scales_by_inverse_rate(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        hash_sample,
        sampled_estimate,
    )

    rows = [(i, "g", float(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    out = sampled_estimate(
        df, key_col="k", value_col="v", group_col="g", rate=0.25, salt="t"
    ).collect()
    assert len(out) == 1
    r = out[0].asDict()
    kept = hash_sample(df, "k", 0.25, "t").count()
    assert r["n_exact"] == 400
    assert r["n_est"] == kept * 4.0
    # the estimate is reproducible and the error column is consistent
    assert abs(r["rel_err_n"] - abs(r["n_est"] - 400) / 400) < 1e-6
    assert r["sum_est"] >= 0.0 and r["rel_err_sum"] is not None


def test_pq_index_save_load_roundtrip(spark, tmp_path):
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        load_pq_index,
        pq_adc_topk,
        pq_train_encode,
        save_pq_index,
    )

    rows, df = _pq_fixture(spark)
    codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=2, seed="t")
    p = str(tmp_path / "pqidx")
    v1 = save_pq_index(codes, book, p)
    codes2, book2 = load_pq_index(spark, p)
    assert book2 == book
    assert sorted(map(tuple, codes2.collect())) == sorted(
        map(tuple, codes.collect())
    )
    # serving off the loaded index gives identical results
    qv = [float(x) for x in rows[0][1]]
    a = [tuple(r) for r in pq_adc_topk(codes, book, qv, k=5).collect()]
    b = [tuple(r) for r in pq_adc_topk(codes2, book2, qv, k=5).collect()]
    assert a == b
    # a re-encode is a new atomic version, and the old pin still reads
    v2 = save_pq_index(codes, book, p)
    assert v2[0] > v1[0]
    codes_pinned, _ = load_pq_index(spark, p, version=v1)
    assert codes_pinned.count() == codes.count()


def test_hard_negatives_excludes_same_label(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.99, 0.1]),   # same label as query: must NEVER appear
        (3, 1, [0.98, 0.2]),   # different label, very close: top negative
        (4, 1, [0.0, 1.0]),
        (5, 2, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    qs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "qid long, qv array<float>, qlabel int"
    )
    got = hard_negatives(df, qs, k=3).collect()
    ids = [r.vec_id for r in got]
    assert 1 not in ids and 2 not in ids  # same-label rows filtered
    assert ids[0] == 3                    # closest cross-label first
    assert len(got) == 3
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)


if _HYP:

    @given(st.integers(0, 2**31 - 1), st.integers(6, 14))
    @settings(max_examples=5, deadline=None)
    def test_pq_codes_are_argmin_of_returned_codebook(spark, seed, n_vecs):
        """Invariant: every emitted code is the first-max of
        dot(sv, c) - 0.5*||c||^2 over the returned codebook, computed
        with the same sequential fold — no training reimplementation,
        just the contract between codes and codebook."""
        import random

        from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
            pq_train_encode,
        )
        rng = random.Random(seed)
        rows = [
            (i, [rng.choice([-1.0, 1.0]) + rng.random() * 0.25 for _ in range(4)])
            for i in range(n_vecs)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=2, seed="p")
        got = {(r.vec_id, r.sub): r.cell for r in codes.collect()}
        # re-read the float32-cast vectors the way Spark saw them
        vecs = {
            r.vec_id: [float(x) for x in r.embedding]
            for r in df.select("vec_id", "embedding").collect()
        }
        for (vid, sub), cell in got.items():
            sv = vecs[vid][sub * 2 : sub * 2 + 2]
            best_cell, best_s = None, None
            for c, cv, cn in book.cents[sub]:
                s = 0.0
                for a, b in zip(sv, cv):
                    s = s + a * b
                s = s - 0.5 * cn
                if best_s is None or s > best_s:
                    best_cell, best_s = c, s
            assert cell == best_cell, (vid, sub, cell, best_cell)

    @given(st.integers(0, 2**31 - 1))
    @settings(max_examples=5, deadline=None)
    def test_centroid_drift_scale_invariance_and_duplicate_group(spark, seed):
        """cosine(centroid_a, centroid_b) is invariant under scaling a
        group by a power of two (exact in binary floats), and a group
        that duplicates another has centroid cosine exactly 1.0."""
        import random

        from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
            centroid_drift,
        )
        rng = random.Random(seed)
        base = [[rng.uniform(-1, 1) for _ in range(3)] for _ in range(4)]
        rows = (
            [(0, v) for v in base]
            + [(1, [x * 2.0 for x in v]) for v in base]   # scaled copy
            + [(2, [rng.uniform(-1, 1) for _ in range(3)]) for _ in range(3)]
        )
        df = spark.createDataFrame(rows, "label int, embedding array<float>")
        out = {
            (r.label_a, r.label_b): r.centroid_cosine
            for r in centroid_drift(df).collect()
        }
        assert out[(0, 1)] == 1.0
        assert out[(0, 2)] == out[(1, 2)]

    @given(st.integers(0, 2**31 - 1), st.integers(50, 200))
    @settings(max_examples=5, deadline=None)
    def test_sampled_estimate_matches_md5_mirror(spark, seed, n_rows):
        """The HT estimate is a pure function of the data: a python md5
        mirror of the membership rule plus the same 1/rate scaling must
        reproduce n_est exactly (integral values keep the decimal fence
        lossless, so sum_est matches too)."""
        import hashlib
        import random

        from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
            sampled_estimate,
        )
        rng = random.Random(seed)
        rows = [(i, "g", float(rng.randint(0, 50))) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "k long, g string, v double")
        r = sampled_estimate(
            df, key_col="k", value_col="v", group_col="g", rate=0.2, salt="s"
        ).collect()[0]

        def member(k):
            h = int(hashlib.md5(f"{k}|s".encode()).hexdigest()[:15], 16)
            return h % 10000 < 2000

        kept = [(k, v) for k, _, v in rows if member(k)]
        assert r["n_est"] == len(kept) * 5.0
        assert r["sum_est"] == round(sum(v for _, v in kept) * 5.0, 6)
        assert r["n_exact"] == n_rows


def test_round10_operators_degenerate_inputs(spark):
    """Edge contracts: single-label drift is empty (no pairs), a
    single-distinct-value group winsorizes to itself with zero clamps,
    and a corpus with no near-dup candidates yields an empty precision
    curve rather than an error."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        centroid_drift,
    )
    from lakehouse_platform_nyc_taxi_spark.operators.timeseries import (
        winsorize_stats,
    )

    one_label = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 4.0])], "label int, embedding array<float>"
    )
    assert centroid_drift(one_label).count() == 0

    const = spark.createDataFrame(
        [("g", 7.0)] * 5, "grp string, value double"
    )
    r = winsorize_stats(const, "value", "grp").collect()[0]
    assert r["p_lo"] == 7.0 and r["p_hi"] == 7.0
    assert r["n_clipped_lo"] == 0 and r["n_clipped_hi"] == 0
    assert r["mean_raw"] == r["mean_winsorized"] == 7.0

    distinct_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    out = dedup.lsh_precision(distinct_docs).collect()
    # docs share no shingles -> no band collisions -> empty curve
    assert out == []


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        dsir_importance,
    )

    # Target docs (is_t) speak "tt"-vocabulary; raw-only docs speak "rr".
    # A raw doc written in target vocabulary must out-score raw-vocab docs.
    rows = [
        (1, "tt ta tb tt ta", "t"),
        (2, "ta tt tb tb tt", "t"),
        (3, "rr ra rb rr ra", "r"),
        (4, "ra rr rb rb rr", "r"),
        (5, "tt ta tb tt tb", "r"),  # target-like raw doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    out = {
        r["doc_id"]: r.asDict()
        for r in dsir_importance(df, F.col("grp") == "t").collect()
    }
    assert len(out) == 5
    assert all(r["n_tokens"] == 5 for r in out.values())
    # the target-vocab raw doc beats both raw-vocab docs
    assert out[5]["dsir_per_token"] > out[3]["dsir_per_token"]
    assert out[5]["dsir_per_token"] > out[4]["dsir_per_token"]
    # absolute sign is meaningless (raw = ALL docs, so cr >= ct and the
    # smoothed ratios skew negative); the contract is the RANKING:
    # every target-vocab doc outranks every raw-vocab doc.
    t_like = {1, 2, 5}
    worst_t = min(out[i]["dsir_per_token"] for i in t_like)
    best_r = max(out[i]["dsir_per_token"] for i in (3, 4))
    assert worst_t > best_r


def test_dsir_select_topk_deterministic_ties(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        dsir_select_topk,
    )

    rows = [
        ("a", 1, 0.5), ("a", 2, 0.5), ("a", 3, 0.9),
        ("b", 4, 0.1), ("b", 5, 0.2),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, dsir_per_token double")
    got = sorted(
        (r.lang, r.doc_id)
        for r in dsir_select_topk(df, "lang", 2).collect()
    )
    # ties break on lowest doc_id: 'a' keeps 3 (0.9) and 1 (0.5, id<2)
    assert got == [("a", 1), ("a", 3), ("b", 4), ("b", 5)]


def test_mixture_plan_rates_cap_and_zero_weight_groups(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        mixture_plan,
    )

    rows = [
        (1, "w w w w", "big"),     # 4 tokens
        (2, "w w w w w w", "big"),  # 6 tokens
        (3, "w w", "small"),        # 2 tokens
        (4, "w", "other"),          # no weight -> share 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["lang"]: r.asDict()
        for r in mixture_plan(df, {"big": 3.0, "small": 1.0}, 8).collect()
    }
    assert out["big"]["available_tokens"] == 10
    assert out["big"]["target_share"] == 0.75
    assert out["big"]["planned_tokens"] == 6.0
    assert out["big"]["sample_rate"] == 0.6
    assert out["big"]["epochs"] == 0.6
    # small: planned 2 tokens, has 2 -> rate caps at exactly 1
    assert out["small"]["sample_rate"] == 1.0
    assert out["small"]["epochs"] == 1.0
    # unweighted group: share 0, rate 0 (not absent from the plan)
    assert out["other"]["target_share"] == 0.0
    assert out["other"]["sample_rate"] == 0.0


def test_cms_build_estimate_merge(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import sketch

    rows = [(k,) for k in ["a"] * 7 + ["b"] * 3 + ["c"] * 1]
    df = spark.createDataFrame(rows, "k string")
    cms = sketch.cms_build(df, "k", depth=3, width=64)
    # total mass is preserved per depth row
    per_d = {r.d: r.s for r in cms.groupBy("d").agg(F.sum("cnt").alias("s")).collect()}
    assert per_d == {0: 11, 1: 11, 2: 11}
    probes = spark.createDataFrame([("a",), ("c",), ("zz",)], "k string")
    est = {r.k: r.cms_est for r in sketch.cms_estimate(cms, probes, "k", depth=3, width=64).collect()}
    # never underestimates; unseen key estimates 0 unless it collides
    assert est["a"] >= 7 and est["c"] >= 1
    assert est["zz"] >= 0
    # merge == sketch of the union
    df2 = spark.createDataFrame([("a",), ("d",), ("d",)], "k string")
    cms2 = sketch.cms_build(df2, "k", depth=3, width=64)
    merged = sketch.cms_merge(cms, cms2)
    whole = sketch.cms_build(df.union(df2), "k", depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_chi_squared_independent_and_dependent(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    # perfectly dependent: col = row -> chi2 = n, cramers_v = 1
    dep = spark.createDataFrame(
        [("a", "a")] * 10 + [("b", "b")] * 10, "r string, c string"
    )
    row = stats.chi_squared(dep, "r", "c").collect()[0]
    assert row.n == 20 and row.dof == 1
    assert row.chi2 == 20.0 and row.cramers_v == 1.0
    # perfectly independent (balanced grid) -> chi2 = 0
    ind = spark.createDataFrame(
        [(r, c) for r in "ab" for c in "xy" for _ in range(5)],
        "r string, c string",
    )
    row = stats.chi_squared(ind, "r", "c").collect()[0]
    assert row.chi2 == 0.0 and row.cramers_v == 0.0


def test_ab_lift_flags_and_determinism(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [(u, "purchase" if u % 3 == 0 else "view") for u in range(200)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    a = stats.ab_lift(df, "user_id", F.col("event_type") == "purchase").collect()[0]
    b = stats.ab_lift(
        df.repartition(7), "user_id", F.col("event_type") == "purchase"
    ).collect()[0]
    assert tuple(a) == tuple(b)
    assert a.n_a + a.n_b == 200
    assert a.conv_a <= a.n_a and a.conv_b <= a.n_b


def test_rfm_segments_cover_all_users(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [
        (u, f"2024-01-{(u % 28) + 1:02d} 00:00:00", float(u % 7) + 1.0)
        for u in range(40)
        for _ in range((u % 3) + 1)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value string").select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    out = stats.rfm_segments(df, "user_id", "ts", "value").collect()
    assert sum(r.n_users for r in out) == 40
    for r in out:
        rr, ff, mm = r.segment.split("-")
        assert 1 <= int(rr) <= 4 and 1 <= int(ff) <= 4 and 1 <= int(mm) <= 4


def test_rfm_boundary_form_matches_ntile_form(spark):
    """VERDICT r13 #2: above the user-count guard rfm_segments swaps
    the three global ntile windows for broadcast boundary-value
    assignment. On boundary-tie-free data (distinct recency / freq /
    monetary per user) the two forms must be value-identical; 37 users
    (not divisible by n_tiles) exercises the uneven-bucket cut
    arithmetic p_t = t*floor(N/n) + min(t, N mod n)."""
    import datetime

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(37):
        for i in range(u + 1):
            rows.append(
                (u, base + datetime.timedelta(days=u, hours=i), 1.0 + u * 0.001)
            )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    ntile_form = sorted(
        map(tuple, stats.rfm_segments(df, "user_id", "ts", "value").collect())
    )
    boundary_form = sorted(
        map(
            tuple,
            stats.rfm_segments(
                df, "user_id", "ts", "value", small_users=0
            ).collect(),
        )
    )
    assert ntile_form == boundary_form
    assert sum(r[1] for r in ntile_form) == 37


def test_markov_transitions_probabilities(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import sessionize

    rows = [
        (1, "a", 1, 10), (1, "b", 2, 11), (1, "a", 3, 12), (1, "c", 4, 13),
        (2, "a", 1, 20), (2, "b", 2, 21),
    ]
    df = spark.createDataFrame(rows, "u long, et string, ts long, eid long")
    out = {
        (r.cur, r.nxt): (r.n_transitions, r.p)
        for r in sessionize.markov_transitions(df, "u", "et", "ts", "eid").collect()
    }
    # user1: a->b, b->a, a->c ; user2: a->b
    assert out[("a", "b")] == (2, 0.666667)
    assert out[("a", "c")] == (1, 0.333333)
    assert out[("b", "a")] == (1, 1.0)
    # no cross-user transition (b@u1 end -> a@u2 start must not appear)
    assert ("c", "a") not in out


def test_attribution_last_touch_windows_and_direct(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import sessionize

    rows = [
        # user 1: click -> purchase (attributed to click)
        (1, "click", "2024-01-10 00:00:00", 1, 5.0),
        (1, "purchase", "2024-01-11 00:00:00", 2, 10.0),
        # user 2: touch too old (8 days) -> direct
        (2, "view", "2024-01-01 00:00:00", 3, 1.0),
        (2, "purchase", "2024-01-09 00:00:01", 4, 20.0),
        # user 3: purchase with no prior event -> direct
        (3, "purchase", "2024-01-05 00:00:00", 5, 30.0),
        # user 4: two touches, latest one wins
        (4, "view", "2024-01-10 01:00:00", 6, 1.0),
        (4, "click", "2024-01-10 02:00:00", 7, 1.0),
        (4, "purchase", "2024-01-10 03:00:00", 8, 40.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        r.channel: (r.n_conversions, r.total_value)
        for r in sessionize.attribution_last_touch(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert out["click"] == (2, 50.0)
    assert out["direct"] == (2, 50.0)
    assert "view" not in out


def test_cusum_changepoint_locates_level_shift(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import timeseries

    # 10 days at 2 events/day then 10 days at 10/day: |CUSUM| peaks at
    # the shift boundary (day 10, the last low day).
    rows = []
    eid = 0
    for day in range(1, 21):
        n = 2 if day <= 10 else 10
        for _ in range(n):
            rows.append(("a", f"2024-01-{day:02d} 12:00:00", eid))
            eid += 1
    df = spark.createDataFrame(rows, "g string, ts string, eid long").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = timeseries.cusum_changepoint(df, "g", "ts").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_buckets == 20
    assert str(r.peak_bucket).startswith("2024-01-10")
    assert r.peak_cusum == -40.0  # 10 days * (2 - 6)


def test_funnel_latency_matches_reach_times(spark):
    from lakehouse_platform_nyc_taxi_spark.operators import sessionize

    rows = [
        # user 1 full funnel: a@0s -> b@10s -> c@40s
        (1, "a", "2024-01-01 00:00:00", 1),
        (1, "b", "2024-01-01 00:00:10", 2),
        (1, "c", "2024-01-01 00:00:40", 3),
        # user 2 reaches b only, 20s after a
        (2, "a", "2024-01-01 00:00:00", 4),
        (2, "b", "2024-01-01 00:00:20", 5),
        # user 3: b BEFORE a -> never reaches b in order
        (3, "b", "2024-01-01 00:00:00", 6),
        (3, "a", "2024-01-01 00:00:05", 7),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        r.stage: r.asDict()
        for r in sessionize.funnel_latency(
            df, "user_id", "event_type", "ts", ["a", "b", "c"]
        ).collect()
    }
    assert out["b"]["n_users"] == 2
    assert out["b"]["mean_latency_s"] == 15.0  # (10 + 20) / 2
    assert out["b"]["max_latency_s"] == 20.0
    assert out["c"]["n_users"] == 1
    assert out["c"]["mean_latency_s"] == 30.0


def test_t_closeness_extremes(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.privacy import t_closeness

    # group 'g1' mirrors the global 50/50 distribution -> tvd 0;
    # group 'g2' is fully skewed to one value -> tvd = 0.5
    rows = (
        [("g1", "x")] * 5 + [("g1", "y")] * 5
        + [("g2", "x")] * 10
        + [("g3", "y")] * 10
    )
    df = spark.createDataFrame(rows, "qi string, s string")
    out = {r.qi: r.asDict() for r in t_closeness(df, ["qi"], "s", t=0.3).collect()}
    assert out["g1"]["tvd"] == 0.0 and out["g1"]["t_close"]
    assert out["g2"]["tvd"] == 0.5 and not out["g2"]["t_close"]
    assert out["g3"]["tvd"] == 0.5


def test_round11_operators_degenerate_inputs(spark):
    """Degenerate-input hardening for the round-11 family: empty
    relations, single categories, and no-signal streams must return
    empty/NULL-flagged results, never raise."""
    from lakehouse_platform_nyc_taxi_spark.operators import (
        sessionize,
        sketch,
        stats,
        timeseries,
    )
    from lakehouse_platform_nyc_taxi_spark.operators.privacy import t_closeness
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        dsir_importance,
        mixture_plan,
    )

    # DSIR: empty target partition (no doc matches) still scores all docs
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    out = dsir_importance(docs, F.lit(False)).collect()
    assert len(out) == 2  # ct=0 everywhere -> smoothed ratios, no error

    # mixture_plan: zero budget -> rates 0 everywhere
    mp = {r["lang"]: r.asDict() for r in mixture_plan(
        docs.withColumn("lang", F.lit("en")), {"en": 1.0}, 0
    ).collect()}
    assert mp["en"]["sample_rate"] == 0.0 and mp["en"]["epochs"] == 0.0

    # CMS: empty probe set -> empty result; empty corpus sketch -> est 0
    empty = spark.createDataFrame([], "k string")
    cms = sketch.cms_build(docs.select(F.col("text").alias("k")), "k")
    assert sketch.cms_estimate(cms, empty, "k").count() == 0
    cms0 = sketch.cms_build(empty, "k")
    probes = spark.createDataFrame([("zz",)], "k string")
    est = sketch.cms_estimate(cms0, probes, "k").collect()
    assert est[0].cms_est == 0

    # chi-squared: single column category -> dof 0, cramers_v NULL (not a crash)
    one = spark.createDataFrame([("a", "x"), ("b", "x")], "r string, c string")
    row = stats.chi_squared(one, "r", "c").collect()[0]
    assert row.dof == 0 and row.cramers_v is None

    # markov: one event per user -> no transitions -> empty
    ev1 = spark.createDataFrame(
        [(1, "a", 1, 1), (2, "b", 1, 2)], "u long, et string, ts long, eid long"
    )
    assert sessionize.markov_transitions(ev1, "u", "et", "ts", "eid").count() == 0

    # attribution: no conversions -> empty channel table
    ev2 = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00", 1, 1.0)],
        "user_id long, event_type string, ts string, event_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert sessionize.attribution_last_touch(
        ev2, "user_id", "event_type", "ts", "event_id"
    ).count() == 0

    # cusum: single bucket -> deviation 0, peak at that bucket, range 0
    ev3 = spark.createDataFrame(
        [("a", "2024-01-01 01:00:00", 1), ("a", "2024-01-01 02:00:00", 2)],
        "g string, ts string, eid long",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    r = timeseries.cusum_changepoint(ev3, "g", "ts").collect()[0]
    assert r.n_buckets == 1 and r.peak_cusum == 0.0 and r.cusum_range == 0.0

    # funnel latency: nobody reaches stage 2 -> n_users 0, NULL stats
    ev4 = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", 1)],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    lat = {
        r.stage: r.asDict()
        for r in sessionize.funnel_latency(
            ev4, "user_id", "event_type", "ts", ["a", "b"]
        ).collect()
    }
    assert lat["b"]["n_users"] == 0 and lat["b"]["mean_latency_s"] is None

    # t-closeness: single sensitive value globally -> every group tvd 0
    single = spark.createDataFrame(
        [("g1", "x"), ("g2", "x")], "qi string, s string"
    )
    for r in t_closeness(single, ["qi"], "s").collect():
        assert r.tvd == 0.0 and r.t_close


def test_funnel_latency_user_counts_match_funnel_counts(spark):
    """Coherence across operators: funnel_latency and funnel_counts use
    the same greedy fold, so their per-stage converting-user counts must
    agree on real data."""
    from lakehouse_platform_nyc_taxi_spark.operators import sessionize
    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    stages = ["view", "click", "purchase"]
    counts = {
        r.stage: r.n_users
        for r in sessionize.funnel_counts(
            ev, "user_id", "event_type", "ts", stages
        ).collect()
    }
    lat = {
        r.stage: r.n_users
        for r in sessionize.funnel_latency(
            ev, "user_id", "event_type", "ts", stages
        ).collect()
    }
    for s in stages[1:]:
        assert lat[s] == counts[s], (s, lat[s], counts[s])


def test_decontamination_flags_shared_8gram_only(spark):
    """A train doc sharing an 8-gram with an eval doc is contaminated;
    a disjoint train doc is not; short docs (<8 tokens) contribute no
    grams at all."""
    from lakehouse_platform_nyc_taxi_spark.operators.dedup import (
        decontamination_report,
    )
    import pyspark.sql.functions as F

    rows = [
        (0, "a b c d e f g h i"),      # eval (2 grams)
        (1, "x a b c d e f g h"),      # train, shares 'a..h'
        (2, "p q r s t u v w x y"),    # train, disjoint
        (3, "a b c"),                  # train, too short -> no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = decontamination_report(
        df, F.col("doc_id") == 0, ngram=8
    ).collect()[0]
    assert got.n_eval == 1 and got.n_train == 3
    assert got.n_eval_grams == 2
    assert got.n_contaminated == 1
    assert got.n_flagged_grams == 1
    assert abs(got.contamination_rate - 1 / 3) < 1e-6


def test_fold_leakage_audit_counts_and_repair(spark):
    """Two docs in one cluster with different md5 folds -> one leaky
    cluster; the repair reassigns exactly the member whose own fold
    differs from the cluster-min-id fold; singletons never leak."""
    import hashlib

    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        fold_leakage_audit,
    )

    def fold(i, k=10):
        return int(hashlib.md5(f"{i}|fold".encode()).hexdigest()[:15], 16) % k

    # find two ids with DIFFERENT folds so the cluster provably leaks
    a = 0
    b = next(i for i in range(1, 50) if fold(i) != fold(a))
    ids = spark.createDataFrame(
        [(a,), (b,), (100,), (101,)], "doc_id long"
    )
    clusters = spark.createDataFrame(
        [(a, a), (b, a)], "id long, cluster long"
    )
    got = fold_leakage_audit(ids, clusters, k=10).collect()[0]
    assert got.n_docs == 4 and got.n_clusters == 3
    assert got.n_multi == 1 and got.n_leaky == 1
    assert got.n_docs_in_leaky == 2
    assert got.leak_rate == 1.0
    # only b differs from the cluster fold (cluster id == a)
    assert got.n_docs_reassigned == 1


def test_mmr_rerank_prefers_diversity(spark):
    """Three near-identical high-relevance vectors vs one orthogonal
    mid-relevance vector: plain top-2 would take two of the clones;
    MMR's second pick must be the orthogonal one."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        (1, [1.0, 0.0, 0.01]),   # clone pack, rel ~1
        (2, [1.0, 0.0, 0.02]),
        (3, [1.0, 0.0, 0.03]),
        (4, [0.5, 0.866, 0.0]),  # 60 deg away, rel 0.5
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([([1.0, 0.0, 0.0],)], "qv array<double>")
    got = mmr_rerank(df, q, k=2, pool=4, lam=0.5).collect()
    assert [r.rank for r in got] == [1, 2]
    assert got[0].vec_id == 1          # highest rel, lowest id tiebreak
    assert got[1].vec_id == 4          # diversity beats the clones
    assert got[1].max_sim_selected < 0.6


def test_mmr_rerank_lambda_one_is_pure_relevance(spark):
    """lam=1.0 disables the diversity penalty: picks must be exactly
    the relevance top-k in order."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.8, 0.2]), (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([([1.0, 0.0],)], "qv array<double>")
    got = mmr_rerank(df, q, k=3, pool=4, lam=1.0).collect()
    assert [r.vec_id for r in got] == [1, 2, 3]


def test_ece_reliability_hand_computed(spark):
    """Two occupied bins, hand-checkable: bin0 (conf .05, acc 0) and
    bin9 (conf .95, acc .5) over 4 rows -> ECE = .05*2/4 + .45*2/4."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [(0.05, 0), (0.05, 0), (0.95, 1), (0.95, 0)]
    df = spark.createDataFrame(rows, "score double, outcome int")
    out = {r.bin: r for r in stats.ece_reliability(df, "score", "outcome").collect()}
    assert set(out) == {0, 9}
    assert out[0].n_rows == 2 and out[0].avg_conf == 0.05 and out[0].avg_acc == 0.0
    assert out[9].n_rows == 2 and out[9].avg_conf == 0.95 and out[9].avg_acc == 0.5
    assert out[0].abs_gap == 0.05 and out[9].abs_gap == 0.45
    assert out[0].ece == 0.25 and out[9].ece == 0.25
    # score exactly 1.0 must land in the TOP bin, not bin 10
    df2 = spark.createDataFrame([(1.0, 1)], "score double, outcome int")
    assert stats.ece_reliability(df2, "score", "outcome").collect()[0].bin == 9


def test_conformal_calibrate_matches_python_replay(spark):
    """conformal_split_calibrate vs an exact Python replay of the same
    md5 split + mean predictor + ceil((n+1)(1-a))-th order statistic."""
    import hashlib
    import math

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    keys = list(range(1, 201))
    rows = [("a", k, float(k % 37) + 0.25) for k in keys]
    df = spark.createDataFrame(rows, "g string, k long, v double")
    got = stats.conformal_split_calibrate(
        df, "g", "k", "v", alpha=0.1, salt="conf", test_mod=5
    ).collect()[0]

    def is_test(k):
        h = int(hashlib.md5(f"{k}|conf".encode()).hexdigest()[:15], 16)
        return h % 5 == 0

    def r8(x):
        return (math.floor(abs(x) * 1e8 + 0.5) / 1e8) * (1.0 if x >= 0 else -1.0)

    cal = [v for (_, k, v) in rows if not is_test(k)]
    test = [v for (_, k, v) in rows if is_test(k)]
    pred = sum(cal) / len(cal)  # integer-ish values: exact either way
    cal_s = sorted(r8(abs(v - pred)) for v in cal)
    k_rank = min(math.ceil((len(cal) + 1) * 0.9), len(cal))
    thr = cal_s[k_rank - 1]
    covered = sum(1 for v in test if r8(abs(v - pred)) <= thr)
    assert got.n_cal == len(cal)
    assert got.n_test == len(test)
    assert got.n_covered == covered
    assert abs(got.threshold - thr) < 1e-6


def test_roc_auc_hand_computed(spark):
    """AUC with ties, hand-checkable: scores/labels
    (1,0) (2,0) (2,1) (3,1): midranks 1, 2.5, 2.5, 4.
    R+ = 2.5 + 4 = 6.5, U = 6.5 - 2*3/2 = 3.5, AUC = 3.5/(2*2)."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (2.0, 1), (3.0, 1)], "s double, y int"
    )
    got = stats.roc_auc(df, "s", "y").collect()[0]
    assert (got.n_pos, got.n_neg) == (2, 2)
    assert got.rank_sum_pos == 6.5
    assert got.auc == 0.875
    assert got.gini == 0.75
    # perfect separation -> AUC 1
    df2 = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int"
    )
    assert stats.roc_auc(df2, "s", "y").collect()[0].auc == 1.0


def test_ks_two_sample_hand_computed(spark):
    """Sample1 = {1,2,3}, sample2 = {2,3,4}: F1-F2 is maximal at v=1
    (1/3 - 0 = 1/3); ks_at must be the smallest value achieving it."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [(1.0, "a"), (2.0, "a"), (3.0, "a"), (2.0, "b"), (3.0, "b"), (4.0, "b")]
    df = spark.createDataFrame(rows, "v double, g string")
    got = stats.ks_two_sample(df, "v", F.col("g") == "a").collect()[0]
    assert (got.n_1, got.n_2) == (3, 3)
    assert got.ks_stat == round(1 / 3, 6)
    assert got.ks_at == 1.0
    # identical samples -> D = 0
    same = spark.createDataFrame(
        [(1.0, "a"), (1.0, "b"), (2.0, "a"), (2.0, "b")], "v double, g string"
    )
    got0 = stats.ks_two_sample(same, "v", F.col("g") == "a").collect()[0]
    assert got0.ks_stat == 0.0


def test_brier_decomposition_identity(spark):
    """When every score is exactly its bin's midpoint-free constant
    (one distinct score per bin), binned Brier equals raw Brier and
    the Murphy identity is exact: rel - res + unc = brier."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [(0.25, 1), (0.25, 0), (0.25, 0), (0.25, 0),
            (0.75, 1), (0.75, 1), (0.75, 1), (0.75, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    got = stats.brier_decomposition(df, "s", "y", n_bins=10).collect()[0]
    # acc bins: .25 and .75 == conf -> reliability 0
    assert got.reliability == 0.0
    assert got.n_rows == 8
    assert got.brier == got.brier_binned
    assert (
        round(got.reliability - got.resolution + got.uncertainty, 6)
        == got.brier_binned
    )


def test_lift_gain_table_hand_computed(spark):
    """20 rows, scores 20..1 (desc = row order), positives at the top
    8 scores. Deciles of 2: buckets 1-4 fully positive, 5-10 empty.
    gain at bucket 4 = 1.0; lift at bucket 1 = (2/2)/(8/20) = 2.5."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [(float(s), 1 if s > 12 else 0) for s in range(20, 0, -1)]
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r.bucket: r for r in stats.lift_gain_table(df, "score", "label").collect()}
    assert len(out) == 10
    assert all(out[b].n_rows == 2 for b in out)
    assert [out[b].n_pos for b in range(1, 11)] == [2, 2, 2, 2, 0, 0, 0, 0, 0, 0]
    assert out[1].lift == 2.5
    assert out[4].gain == 1.0 and out[4].cum_pos == 8
    assert out[10].gain == 1.0 and out[10].lift == 1.0


def test_psi_drift_detects_shift(spark):
    """Identical slices => psi ~= 0 (exactly 0 when counts mirror);
    a shifted comparison slice => psi well above the 0.25 alarm line."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    same = [(float(i % 100), g) for i in range(1000) for g in ("r", "c")]
    df = spark.createDataFrame(same, "v double, g string")
    out = stats.psi_drift(df, "v", F.col("g") == "r").collect()
    assert len(out) == 10
    assert sum(r.n_ref for r in out) == 1000
    assert abs(out[0].psi) < 1e-9  # mirrored counts -> every p_b == q_b

    shifted = [(float(i % 100), "r") for i in range(1000)] + [
        (float(i % 100) + 80.0, "c") for i in range(1000)
    ]
    df2 = spark.createDataFrame(shifted, "v double, g string")
    out2 = stats.psi_drift(df2, "v", F.col("g") == "r").collect()
    assert out2[0].psi > 0.25


def test_cvm_two_sample_hand_computed(spark):
    """Identical samples -> T = 0; disjoint samples {1,2} vs {3,4}:
    pooled values contribute m*(F1-F2)^2 = 1*(.5)^2 + 1*(1)^2 +
    1*(.5)^2 = 1.5, T = (4/16)*1.5 = 0.375."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    same = spark.createDataFrame(
        [(1.0, "a"), (1.0, "b"), (2.0, "a"), (2.0, "b")], "v double, g string"
    )
    got0 = stats.cvm_two_sample(same, "v", F.col("g") == "a").collect()[0]
    assert got0.cvm_stat == 0.0
    dis = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b")], "v double, g string"
    )
    got = stats.cvm_two_sample(dis, "v", F.col("g") == "a").collect()[0]
    assert (got.n_1, got.n_2) == (2, 2)
    assert got.cvm_stat == 0.375


def test_ks_cvm_empty_input_returns_empty_shape(spark):
    """Empty / all-null value inputs return the empty result shape
    instead of TypeError-ing on the float(None) bounds probe
    (ADVICE r14 #3)."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    empty = spark.createDataFrame([], "v double, g string")
    allnull = spark.createDataFrame(
        [(None, "a"), (None, "b")], "v double, g string"
    )
    for df in (empty, allnull):
        ks = stats.ks_two_sample(df, "v", F.col("g") == "a")
        assert ks.columns == ["n_1", "n_2", "ks_stat", "ks_at"]
        assert ks.count() == 0
        cvm = stats.cvm_two_sample(df, "v", F.col("g") == "a")
        assert cvm.columns == ["n_1", "n_2", "cvm_stat"]
        assert cvm.count() == 0


def test_batch_query_collect_guards_raise_on_oversized(spark):
    """The batch ANN paths materialize / broadcast the query frame;
    the bounded-metadata contract is enforced with a limit-capped probe
    that raises cleanly past max_queries (VERDICT r14 #4)."""
    import pytest

    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_batch,
        pq_adc_topk_batch,
        pq_train_encode,
    )

    rows, df = _pq_fixture(spark)
    codes, book = pq_train_encode(df, dims=4, m=2, k=2, iters=1, seed="t")
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (0, 1, 2)], "qid long, qv array<float>"
    )
    with pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk_batch(codes, book, queries, k=2, max_queries=2)
    index = build_ivf_index(
        df.select(F.col("vec_id"), F.col("embedding")), n_cells=2
    )
    with pytest.raises(ValueError, match="max_queries"):
        ivf_probe_batch(index, queries, k=2, max_queries=2)
    # at exactly the cap both paths still run
    assert pq_adc_topk_batch(
        codes, book, queries, k=2, max_queries=3
    ).count() > 0
    assert ivf_probe_batch(index, queries, k=2, max_queries=3).count() > 0


def test_conformal_threshold_artifact_is_calibrates_threshold_table(spark):
    """The public artifact (group, _pred, _thr, n_cal) is exactly the
    threshold table conformal_split_calibrate composes: per group,
    round6(_thr) == calibrate's threshold and n_cal matches — and its
    columns are the ones stream_conformal_gate's docstring promises
    (ADVICE r14 #5)."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [
        (i, "a" if i % 2 == 0 else "b", float(i % 17) + 0.25) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")
    art = {
        r.g: r
        for r in stats.conformal_threshold_artifact(
            df, "g", "event_id", "value", alpha=0.1
        ).collect()
    }
    cal = {
        r.g: r
        for r in stats.conformal_split_calibrate(
            df, "g", "event_id", "value", alpha=0.1
        ).collect()
    }
    assert set(art) == set(cal)
    for g, c in cal.items():
        assert round(art[g]._thr, 6) == c.threshold
        assert art[g].n_cal == c.n_cal
    assert {"_pred", "_thr"} <= set(art["a"].asDict())


def test_pr_curve_hand_computed(spark):
    """Scores 4,3,2,1 with labels 1,1,0,1 (P=3):
    thr=4: n_pred=1 tp=1 prec=1 rec=1/3;
    thr=3: 2,2,1.0,2/3; thr=2: 3,2,2/3,2/3; thr=1: 4,3,0.75,1.0.
    F1 at thr=1 = 2*.75*1/(1.75)."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    df = spark.createDataFrame(
        [(4.0, 1), (3.0, 1), (2.0, 0), (1.0, 1)], "score double, label int"
    )
    out = stats.pr_curve(df, "score", "label").collect()
    got = [(r.threshold, r.n_pred, r.tp, r.precision, r.recall) for r in out]
    assert got == [
        (4.0, 1, 1, 1.0, round(1 / 3, 6)),
        (3.0, 2, 2, 1.0, round(2 / 3, 6)),
        (2.0, 3, 2, round(2 / 3, 6), round(2 / 3, 6)),
        (1.0, 4, 3, 0.75, 1.0),
    ]
    assert out[3].f1 == round(2 * 0.75 * 1.0 / 1.75, 6)
    # no positives -> recall/f1 NULL, precision still defined
    neg = spark.createDataFrame([(1.0, 0), (2.0, 0)], "score double, label int")
    rows = stats.pr_curve(neg, "score", "label").collect()
    assert all(r.recall is None and r.f1 is None for r in rows)
    assert rows[0].precision == 0.0
    # empty input -> empty shape
    empty = spark.createDataFrame([], "score double, label int")
    assert stats.pr_curve(empty, "score", "label").count() == 0


def test_spearman_corr_hand_computed(spark):
    """Monotone map -> 1, reverse -> -1, one swap in 4 -> 0.8
    (Pearson of ranks), ties via midranks, constant column -> NULL."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    mono = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0)], "x double, y double"
    )
    assert stats.spearman_corr(mono, "x", "y").collect()[0].rho == 1.0
    rev = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 2.0), (3.0, 1.0)], "x double, y double"
    )
    assert stats.spearman_corr(rev, "x", "y").collect()[0].rho == -1.0
    swap = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (4.0, 4.0)], "x double, y double"
    )
    got = stats.spearman_corr(swap, "x", "y").collect()[0]
    assert (got.n, got.rho) == (4, 0.8)
    tied = spark.createDataFrame(
        [(1.0, 3.0), (1.0, 3.0), (2.0, 5.0)], "x double, y double"
    )
    assert stats.spearman_corr(tied, "x", "y").collect()[0].rho == 1.0
    const = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 2.0)], "x double, y double"
    )
    assert stats.spearman_corr(const, "x", "y").collect()[0].rho is None


def test_kaplan_meier_hand_computed(spark):
    """Subjects (t, event): (1,1),(2,0),(3,1),(3,1),(4,0):
    S(1)=0.8; censor at 2 leaves S; t=3 has n_risk 3, d=2 ->
    S=r8(0.8*r8(1/3))=0.266667 (round6); censor at 4 carries it."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = [("a", 1, 1), ("a", 2, 0), ("a", 3, 1), ("a", 3, 1), ("a", 4, 0)]
    df = spark.createDataFrame(rows, "g string, t int, ev int")
    out = {r.t: r for r in stats.kaplan_meier(df, "g", "t", "ev").collect()}
    assert [out[t].n_risk for t in (1, 2, 3, 4)] == [5, 4, 3, 1]
    assert out[1].survival == 0.8
    assert out[2].survival == 0.8
    assert out[3].survival == 0.266667 and out[3].n_event == 2
    assert out[4].survival == 0.266667 and out[4].n_censored == 1
    # two groups fold independently
    two = spark.createDataFrame(
        rows + [("b", 1, 1), ("b", 2, 1)], "g string, t int, ev int"
    )
    got = {(r.g, r.t): r for r in stats.kaplan_meier(two, "g", "t", "ev").collect()}
    assert got[("b", 1)].survival == 0.5
    assert got[("b", 2)].survival == 0.0
    assert got[("a", 3)].survival == 0.266667


def test_isotonic_calibration_pav_hand_computed(spark):
    """Scores 1..4 with per-score rates (1.0, 0.0, 0.5, 1.0):
    PAV pools the violating (1.0, 0.0) prefix -> 0.5, then 0.5 stays,
    then 1.0 — fitted curve (0.5, 0.5, 0.5, 1.0), non-decreasing."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats

    rows = (
        [("g", 1.0, 1), ("g", 1.0, 1)]      # score 1: rate 1.0
        + [("g", 2.0, 0), ("g", 2.0, 0)]    # score 2: rate 0.0
        + [("g", 3.0, 1), ("g", 3.0, 0)]    # score 3: rate 0.5
        + [("g", 4.0, 1)]                   # score 4: rate 1.0
    )
    df = spark.createDataFrame(rows, "grp string, score double, y int")
    out = {
        r.score: r
        for r in stats.isotonic_calibration(df, "grp", "score", "y").collect()
    }
    assert [out[s].calibrated for s in (1.0, 2.0, 3.0, 4.0)] == [
        0.5, 0.5, 0.5, 1.0
    ]
    assert [out[s].pos_rate for s in (1.0, 2.0, 3.0, 4.0)] == [
        1.0, 0.0, 0.5, 1.0
    ]
    # monotone input passes through untouched
    mono = spark.createDataFrame(
        [("g", 1.0, 0), ("g", 2.0, 1), ("g", 2.0, 0), ("g", 3.0, 1)],
        "grp string, score double, y int",
    )
    got = {
        r.score: r.calibrated
        for r in stats.isotonic_calibration(mono, "grp", "score", "y").collect()
    }
    assert got == {1.0: 0.0, 2.0: 0.5, 3.0: 1.0}


def test_ols_two_features_recovers_exact_plane(spark):
    """y = 2 + 3*x1 - 0.5*x2 exactly -> coefficients recovered, r2=1;
    collinear features -> singular design, NULL coefficients."""
    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        ols_two_features,
    )

    rows = [
        (float(x1), float(x2), 2.0 + 3.0 * x1 - 0.5 * x2)
        for x1 in range(5)
        for x2 in range(4)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    got = ols_two_features(df, "y", "x1", "x2").collect()[0]
    assert got.n == 20
    assert got.intercept == 2.0
    assert got.beta1 == 3.0
    assert got.beta2 == -0.5
    assert got.r2 == 1.0
    sing = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (2.0, 4.0, 7.0), (3.0, 6.0, 9.0)],
        "x1 double, x2 double, y double",
    )
    g2 = ols_two_features(sing, "y", "x1", "x2").collect()[0]
    assert g2.intercept is None and g2.beta1 is None


def test_gini_coefficient_hand_computed(spark):
    """Equal values -> 0; [0,0,0,1] -> G = (sum d*v - 5*1)/(4*1):
    d at v=1 is 2*4-1+1=8 -> (8-5)/4 = 0.75; all-zero -> NULL."""
    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        gini_coefficient,
    )

    eq = spark.createDataFrame([(5.0,)] * 4, "v double")
    assert gini_coefficient(eq, "v").collect()[0].gini == 0.0
    conc = spark.createDataFrame([(0.0,), (0.0,), (0.0,), (1.0,)], "v double")
    got = gini_coefficient(conc, "v").collect()[0]
    assert (got.n, got.total, got.gini) == (4, 1.0, 0.75)
    zero = spark.createDataFrame([(0.0,), (0.0,)], "v double")
    assert gini_coefficient(zero, "v").collect()[0].gini is None


def test_ips_offpolicy_hand_computed(spark):
    """One context, actions a (rewards 1,1) and b (rewards 0,0):
    greedy policy picks a, p(a)=0.5 -> IPS = (2+2)/4 = 1.0 = SNIPS;
    match_rate 0.5. Tie on means -> smallest action wins."""
    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        ips_offpolicy,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 1.0), (1, "b", 0.0), (1, "b", 0.0)],
        "x int, a string, r double",
    )
    got = ips_offpolicy(df, "x", "a", "r").collect()[0]
    assert (got.n, got.n_matched, got.match_rate) == (4, 2, 0.5)
    assert got.ips_value == 1.0
    assert got.snips_value == 1.0
    tie = spark.createDataFrame(
        [(1, "z", 1.0), (1, "c", 1.0)], "x int, a string, r double"
    )
    g2 = ips_offpolicy(tie, "x", "a", "r").collect()[0]
    assert g2.n_matched == 1  # 'c' wins the tie, one matched row
    # no reward signal at all -> policy still picks smallest action
    assert g2.ips_value == 1.0  # 1.0 * (2/1) / 2


def test_mahalanobis_diag_outliers_flags_the_far_vector(spark):
    """Three near-origin vectors + one far on dim 0 -> the far vector
    tops the ranking; constant dim contributes 0 (no NaN/NULL)."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        mahalanobis_diag_outliers,
    )

    rows = [
        (1, [0.0, 5.0]),
        (2, [1.0, 5.0]),
        (3, [0.5, 5.0]),
        (4, [10.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mahalanobis_diag_outliers(df, k=4).collect()
    assert out[0].vec_id == 4
    assert out[0].md_sq > out[1].md_sq
    assert all(r.md_sq is not None and r.md_sq >= 0 for r in out)
    # k limits the output with (md_sq DESC, id) tiebreak
    assert len(mahalanobis_diag_outliers(df, k=2).collect()) == 2


def test_neyman_allocation_favors_high_variance_strata(spark):
    """Stratum 'a': constant values (sd 0) -> Neyman allocates ~0;
    stratum 'b': spread values -> gets ~the whole budget; proportional
    splits by size regardless. Allocations clamp to stratum size."""
    from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
        neyman_allocation,
    )

    rows = [("a", 100.0)] * 6 + [("b", float(v)) for v in (0, 200) * 3]
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r.s: r for r in neyman_allocation(df, "s", "v", budget=6).collect()}
    assert out["a"].sd == 0.0 and out["a"].neyman_alloc == 0
    assert out["b"].neyman_alloc == 6  # clamped to stratum size
    assert out["a"].proportional_alloc == 3
    assert out["b"].proportional_alloc == 3
    assert out["b"].weight_share == 1.0


def test_wilson_intervals_hand_case(spark):
    """5/10 successes: interval brackets 0.5 symmetrically and stays in
    [0,1]; 0/10 gives ci_low exactly 0 with a positive upper bound."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        wilson_intervals,
    )

    rows = [("a", i < 5) for i in range(10)] + [("b", False)] * 10
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = {r.g: r for r in wilson_intervals(df, "g", F.col("s")).collect()}
    a = out["a"]
    assert a.rate == 0.5 and a.ci_low < 0.5 < a.ci_high
    assert abs((0.5 - a.ci_low) - (a.ci_high - 0.5)) < 1e-9  # symmetric at p=.5
    b = out["b"]
    assert b.rate == 0.0 and b.ci_low == 0.0 and 0 < b.ci_high < 0.35


def test_round8_unit_sum_matches_decimal_fence(spark):
    """The Arrow power-sum fast path (r19) must be BIT-equal to
    ``sum(CAST(x AS DECIMAL(38,8)))``: adversarial dyadic ties (i/512
    terminates exactly at the 9th decimal digit — HALF_UP differs from
    banker's there), large magnitudes past the float64 unit-exactness
    range, NaN/Inf and >=1e30 overflow (the cast nulls them), and random
    bulk values."""
    import decimal

    import numpy as np

    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        _round8_unit_sum,
    )

    rng = np.random.default_rng(7)
    adversarial = [
        0.001953125,  # 1/512: exact ...5 at digit 9 -> HALF_UP tie
        -0.001953125,
        3.0 / 512,
        1e7 + 0.3,  # past the fast-path magnitude cutoff
        4.5e15,
        1e29,
        1e30,  # decimal(38,8) overflow: fence throws (ANSI), path skips
        -1e31,
        float("nan"),
        float("inf"),
        float("-inf"),
        0.0,
        -0.0,
        123456.000000005,
        -123456.000000005,
    ]
    # constructed near-ties: doubles as close to x.xxxxxxxx5 shortest
    # reprs as representable — where shortest-repr (JVM) and exact-
    # binary rounding diverge
    base = rng.uniform(0.1, 1e4, 2000)
    u = np.floor(base * 1e8)
    vals = np.concatenate(
        [
            np.array(adversarial, dtype=np.float64),
            (u + 0.5) / 1e8,
            (u + 0.4999999) / 1e8,
            rng.uniform(-1e4, 1e4, 5000),
            rng.uniform(-1.0, 1.0, 5000) ** 3,
            np.array([i / 512 for i in range(-512, 512)], dtype=np.float64),
        ]
    )
    # pure-python reference replay of the JVM cast+sum: HALF_UP over the
    # SHORTEST-REPR decimal (BigDecimal.valueOf semantics), not the
    # exact binary expansion
    with decimal.localcontext() as ctx:
        ctx.prec = 80
        ref = 0
        for v in vals.tolist():
            if not np.isfinite(v) or abs(v) >= 1e30:
                continue  # fence would throw under ANSI; path skips
            ref += int(
                decimal.Decimal(repr(v))
                .scaleb(8)
                .to_integral_value(rounding=decimal.ROUND_HALF_UP)
            )
    assert _round8_unit_sum(vals) == ref
    # cross-check the reference itself against Spark's decimal fence on
    # the slice the fence accepts (ANSI throws on NaN/Inf/overflow)
    ok = [float(v) for v in vals.tolist() if np.isfinite(v) and abs(v) < 1e30]
    sdf = spark.createDataFrame([(v,) for v in ok], "v double")
    got = sdf.selectExpr("sum(CAST(v AS DECIMAL(38,8))) AS s").collect()[0].s
    with decimal.localcontext() as ctx:
        ctx.prec = 80  # default 28-digit context would round the shift
        assert int(got.scaleb(8)) == ref
    assert _round8_unit_sum(np.array(ok)) == ref


def test_skew_kurtosis_known_shapes(spark):
    """Symmetric two-point mass at +-1: skewness 0, excess kurtosis -2
    (the minimum); a right-tailed group has positive skew; constant
    group -> NULLs."""
    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        skew_kurtosis,
    )

    rows = (
        [("sym", v) for v in (1.0, -1.0) * 4]
        + [("tail", v) for v in (0.0, 0.0, 0.0, 0.0, 0.0, 10.0)]
        + [("const", 3.0)] * 4
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r for r in skew_kurtosis(df, "g", "v").collect()}
    assert out["sym"].skewness == 0.0
    assert out["sym"].kurtosis == -2.0
    assert out["tail"].skewness > 1.0
    assert out["const"].skewness is None and out["const"].kurtosis is None


def test_kaplan_meier_property_matches_python_replay(spark):
    """Property check: the bucketed product-limit fold equals a pure
    Python replay for arbitrary (duration, event) corpora — grouping,
    bucketing, and tied/censor-only times never change the curve."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    def r8(x):
        return math.floor(abs(x) * 1e8 + 0.5) / 1e8

    def r6(x):
        return math.floor(abs(x) * 1e6 + 0.5) / 1e6

    def py_km(subjects):
        from collections import Counter

        d = Counter()
        c = Counter()
        for t, ev in subjects:
            (d if ev else c)[t] += 1
        n_risk = len(subjects)
        surv, out = 1.0, {}
        for t in sorted(set(d) | set(c)):
            if d[t] > 0:
                surv = r8(surv * r8(1.0 - d[t] / n_risk))
            out[t] = (n_risk, d[t], c[t], r6(surv))
            n_risk -= d[t] + c[t]
        return out

    subject = st.tuples(st.integers(0, 8), st.booleans())
    group = st.lists(subject, min_size=1, max_size=12)

    @given(st.lists(group, min_size=1, max_size=4))
    @settings(max_examples=8, deadline=None)
    def run(groups):
        rows = [
            (g, t, int(ev))
            for g, subs in enumerate(groups)
            for t, ev in subs
        ]
        df = spark.createDataFrame(rows, "g long, t int, ev int")
        got = {
            (r.g, r.t): (r.n_risk, r.n_event, r.n_censored, r.survival)
            for r in stats.kaplan_meier(df, "g", "t", "ev").collect()
        }
        want = {}
        for g, subs in enumerate(groups):
            for t, vals in py_km(subs).items():
                want[(g, t)] = vals
        assert got == want

    run()


def test_isotonic_calibration_property_matches_python_pav(spark):
    """Property check: the all-integer PAV fold equals a pure Python
    PAV for arbitrary per-score (n, positives) tables, and the fitted
    curve is always non-decreasing."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    def r6(x):
        return math.floor(abs(x) * 1e6 + 0.5) / 1e6

    def py_pav(cells):
        # cells: list of (score, n, pos) ascending by score
        stack = []
        for _, n, p in cells:
            n_b, p_b, w_b = n, p, 1
            while stack and stack[-1][1] * n_b > p_b * stack[-1][0]:
                pn, pp, pw = stack.pop()
                n_b, p_b, w_b = n_b + pn, p_b + pp, w_b + pw
            stack.append((n_b, p_b, w_b))
        fitted = []
        for n_b, p_b, w_b in stack:
            fitted += [r6(p_b / n_b)] * w_b
        return fitted

    cell = st.tuples(st.integers(1, 6), st.integers(0, 6))

    @given(st.lists(cell, min_size=1, max_size=10))
    @settings(max_examples=8, deadline=None)
    def run(raw):
        cells = [
            (float(i), n, min(p, n)) for i, (n, p) in enumerate(raw)
        ]
        rows = [
            ("g", s, 1 if j < p else 0)
            for s, n, p in cells
            for j in range(n)
        ]
        df = spark.createDataFrame(rows, "g string, score double, y int")
        out = sorted(
            stats.isotonic_calibration(df, "g", "score", "y").collect(),
            key=lambda r: r.score,
        )
        got = [r.calibrated for r in out]
        assert got == py_pav(cells)
        assert got == sorted(got)  # isotonic by construction

    run()


@pytest.mark.slow
def test_spearman_property_matches_python_midranks(spark):
    """Property check: spearman_corr equals Pearson over Python-computed
    midranks for arbitrary tied data (round6)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakehouse_platform_nyc_taxi_spark.operators import stats

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            mid = (i + j) / 2 + 1
            for t in range(i, j + 1):
                ranks[order[t]] = mid
            i = j + 1
        return ranks

    def py_spearman(xs, ys):
        rx, ry = midranks(xs), midranks(ys)
        n = len(xs)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(r * r for r in rx)
        syy = sum(r * r for r in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        num = n * sxy - sx * sy
        den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        if den == 0:
            return None
        return math.floor(abs(num / den) * 1e6 + 0.5) / 1e6 * (
            1.0 if num / den >= 0 else -1.0
        )

    pair = st.tuples(st.integers(-5, 5), st.integers(-5, 5))

    @given(st.lists(pair, min_size=2, max_size=25))
    @settings(max_examples=10, deadline=None)
    def run(pairs):
        df = spark.createDataFrame(
            [(float(x), float(y)) for x, y in pairs], "x double, y double"
        )
        got = stats.spearman_corr(df, "x", "y").collect()[0].rho
        want = py_spearman([x for x, _ in pairs], [y for _, y in pairs])
        assert got == want, (pairs, got, want)

    run()


def test_tost_equivalence_verdicts(spark):
    """Identical arm rates within margin -> equivalent; a 20-point rate
    gap >> margin -> not equivalent; degenerate both-converted arms ->
    NULL z's and NULL verdict (the ab_lift convention)."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators.stats import (
        tost_equivalence,
    )

    # 400 users, ~50% conversion independent of arm -> tight diff
    rows = [(u, u % 2 == 0) for u in range(400)]
    df = spark.createDataFrame(rows, "user_id long, conv boolean")
    got = tost_equivalence(df, "user_id", F.col("conv"), margin=0.2).collect()[0]
    assert got.equivalent is True
    assert got.z_lower > 0 and got.z_upper > 0
    # conversion correlated with the md5 arm split is hard to build by
    # hand; instead shrink the margin so the same diff fails the gate
    tight = tost_equivalence(
        df, "user_id", F.col("conv"), margin=1e-6
    ).collect()[0]
    assert tight.equivalent is False or tight.equivalent is None
    # degenerate: everyone converts -> SE 0 -> NULLs
    allc = spark.createDataFrame(
        [(u, True) for u in range(40)], "user_id long, conv boolean"
    )
    d = tost_equivalence(allc, "user_id", F.col("conv")).collect()[0]
    assert d.z_lower is None and d.equivalent is None


def test_audio_energy_bands_match_pure_python_reference(spark):
    """audio_energy_bands vs an independent per-byte Python fold: 64
    sub-segment energies, mean threshold, little-endian 16-bit band
    packing — including the short-payload zero-energy padding and the
    truncated tail past 64*seg."""
    import random

    rng = random.Random(7)
    payloads = [
        bytes(rng.randrange(256) for _ in range(n))
        # spans the _NUMPY_MIN_BYTES crossover: scalar path below,
        # vector path above — both must match the reference fold
        for n in (1, 63, 64, 65, 130, 700, 4095, 4096, 9001)
    ]

    def ref_bands(payload: bytes) -> tuple[int, int, int, int]:
        seg = max(len(payload) // 64, 1)
        e = [
            sum((b - 128) * (b - 128) for b in payload[i * seg : i * seg + seg])
            for i in range(64)
        ]
        mean = sum(e) / 64.0
        out = []
        for j in range(4):
            v = 0
            for k in range(16):
                if e[16 * j + k] > mean:
                    v |= 1 << k
            out.append(v)
        return tuple(out)

    assets = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)]
        + [(99, bytearray(b""))],
        "asset_id long, content binary",
    )
    got = {
        r.asset_id: (r.b0, r.b1, r.b2, r.b3)
        for r in multimodal.audio_energy_bands(assets).collect()
    }
    assert 99 not in got  # empty payload emits nothing
    for i, p in enumerate(payloads):
        assert got[i] == ref_bands(p), f"payload {i} (len {len(p)})"


def test_hamming_banded_pairs_pigeonhole_recall_randomized(spark):
    """Recall contract at scale shape: for ANY pair within Hamming
    distance bands-1 (= 3), at least one 16-bit band matches exactly, so
    the banded candidate join finds it — randomized over 40 base hashes
    each with a <=3-bit-perturbed twin (seeded; one Spark job)."""
    import random

    rng = random.Random(42)
    rows, expected = [], set()
    for i in range(40):
        base = rng.getrandbits(64)
        flips = rng.sample(range(64), rng.randint(0, 3))
        twin = base
        for f in flips:
            twin ^= 1 << f
        a_id, b_id = 2 * i, 2 * i + 1
        for rid, h in ((a_id, base), (b_id, twin)):
            rows.append(
                (rid, *(int((h >> (16 * j)) & 0xFFFF) for j in range(4)))
            )
        expected.add((a_id, b_id, len(flips)))
    hashes = spark.createDataFrame(
        rows, "id long, b0 int, b1 int, b2 int, b3 int"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_banded_pairs(
            hashes, "id", ["b0", "b1", "b2", "b3"],
            bits_per_band=16, max_hamming=3,
        ).collect()
    }
    missing = expected - got
    assert not missing, f"pigeonhole recall violated: {sorted(missing)[:5]}"
    # every reported pair must actually be within the threshold
    assert all(h <= 3 for (_, _, h) in got)


def test_audio_frame_features_paths_match_reference_across_crossover(spark):
    """The size-adaptive seam: payloads straddling _NUMPY_MIN_BYTES must
    produce identical frames from the scalar and vector paths — both
    checked against an independent per-byte reference fold."""
    import random

    rng = random.Random(11)
    payloads = {
        n: bytes(rng.randrange(256) for _ in range(n))
        for n in (257, 4095, 4096, 10000)
    }

    def ref(payload):
        out = []
        seg = max(len(payload) // 4, 1)
        for i in range(min(4, len(payload))):
            f = payload[i * seg : i * seg + seg]
            e = sum((b - 128) * (b - 128) for b in f)
            zc = sum(
                1
                for j in range(1, len(f))
                if (f[j] >= 128) != (f[j - 1] >= 128)
            )
            out.append((i, len(f), e, zc))
        return out

    assets = spark.createDataFrame(
        [(n, bytearray(p)) for n, p in payloads.items()],
        "asset_id long, content binary",
    )
    got = {}
    for r in multimodal.audio_frame_features(assets).collect():
        got.setdefault(r.asset_id, []).append(
            (r.frame_no, r.n_samples, r.energy, r.zero_crossings)
        )
    for n, p in payloads.items():
        assert sorted(got[n]) == ref(p), f"payload len {n}"


def test_pnm_decode_paths_match_across_crossover():
    """P5 and P6 rasters straddling _NUMPY_MIN_BYTES: the vector path
    must equal the scalar path's documented arithmetic (incl. the
    integer ITU-R 601-2 luma collapse)."""
    import random

    from lakehouse_platform_nyc_taxi_spark.operators.multimodal import (
        _decode_pnm,
    )

    rng = random.Random(5)
    # P5 above threshold: 80x60 = 4800 bytes
    raster = bytes(rng.randrange(256) for _ in range(80 * 60))
    w, h, px = _decode_pnm(b"P5 80 60 255\n" + raster)
    assert (w, h) == (80, 60)
    assert list(px) == list(raster)
    # P6 above threshold: 50x40 -> 6000 raster bytes
    raster6 = bytes(rng.randrange(256) for _ in range(3 * 50 * 40))
    w, h, px = _decode_pnm(b"P6 50 40 255\n" + raster6)
    expected = [
        (raster6[3 * i] * 299 + raster6[3 * i + 1] * 587 + raster6[3 * i + 2] * 114)
        // 1000
        for i in range(50 * 40)
    ]
    assert list(px) == expected
    # P6 below threshold keeps the scalar path and the same values
    small = bytes(rng.randrange(256) for _ in range(3 * 4))
    w, h, px = _decode_pnm(b"P6 4 1 255\n" + small)
    assert list(px) == [
        (small[3 * i] * 299 + small[3 * i + 1] * 587 + small[3 * i + 2] * 114) // 1000
        for i in range(4)
    ]


def test_audio_energy_bands_passthrough_and_collision_guard(spark):
    import datetime as dtm

    t0 = dtm.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(200))), t0)],
        "asset_id long, content binary, ingest_ts timestamp",
    )
    out = multimodal.audio_energy_bands(df, passthrough=["ingest_ts"])
    assert out.columns == ["asset_id", "b0", "b1", "b2", "b3", "ingest_ts"]
    row = out.first()
    assert row.ingest_ts == t0
    # passthrough must not change the bands
    base = multimodal.audio_energy_bands(df.select("asset_id", "content")).first()
    assert (row.b0, row.b1, row.b2, row.b3) == (base.b0, base.b1, base.b2, base.b3)
    with pytest.raises(ValueError, match="collide with the output schema"):
        multimodal.audio_energy_bands(
            df.withColumn("b0", F.lit(1)), passthrough=["b0"]
        )


def test_decode_pnm_fuzz_never_fails_with_non_valueerror():
    """Robustness of the raster decode seam: arbitrary byte garbage —
    including truncated headers, absurd dimension fields, and payloads
    straddling the numpy crossover — must either decode or raise
    ValueError; any other exception (IndexError from header scanning,
    OverflowError from huge dims, numpy shape errors) would kill a whole
    Arrow batch with an opaque executor traceback at 100 TB."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakehouse_platform_nyc_taxi_spark.operators import multimodal as mm

    header = st.sampled_from([b"", b"P5", b"P6", b"P5\n", b"P6\n", b"P7\n", b"#\n"])
    fields = st.text("0123456789 \n#x-", max_size=16).map(str.encode)
    body = st.binary(max_size=256)

    @settings(max_examples=300, deadline=None)
    @given(header, fields, body)
    def run(h, f, b):
        try:
            w, hh, px = mm._decode_pnm(h + f + b)
            assert w >= 1 and hh >= 1 and len(px) == w * hh
        except ValueError:
            pass

    run()


def test_decode_pnm_fuzz_valid_payloads_round_trip_both_paths():
    """Well-formed P5/P6 payloads of arbitrary dimensions decode
    identically on the scalar and numpy paths (the crossover pin,
    generalized beyond the fixed-size cases)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakehouse_platform_nyc_taxi_spark.operators import multimodal as mm

    dims = st.tuples(st.integers(1, 80), st.integers(1, 80))

    @settings(max_examples=60, deadline=None)
    @given(dims, st.integers(0, 2**31), st.booleans())
    def run(wh, seed, rgb):
        w, h = wh
        n = w * h * (3 if rgb else 1)
        raster = bytes((seed + 37 * i) % 256 for i in range(n))
        data = (b"P6" if rgb else b"P5") + b"\n%d %d\n255\n" % (w, h) + raster
        saved = mm._NUMPY_MIN_BYTES
        try:
            mm._NUMPY_MIN_BYTES = 1
            vec = mm._decode_pnm(data)
            mm._NUMPY_MIN_BYTES = 1 << 60
            sca = mm._decode_pnm(data)
        finally:
            mm._NUMPY_MIN_BYTES = saved
        assert vec[0] == sca[0] and vec[1] == sca[1]
        assert list(vec[2]) == list(sca[2])

    run()
