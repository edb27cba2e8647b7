"""Dedup suite (MinHash/SimHash/fingerprints/embedding near-dup) and
multimodal plumbing."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from crankshaft_spark.operators.ann import embedding_neardup_pairs
from crankshaft_spark.operators.dedup import (
    dedup_components,
    fingerprints,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
)
from crankshaft_spark.operators.multimodal import (
    decode_metadata,
    frame_sample,
    image_resize_features,
    synth_media,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [
        (1, base),
        (2, base),                                  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),        # near dup of 1
        (4, "completely different content about spark dataframes and joins"),
        (5, "completely different content about spark dataframes and joins!"),
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_exact_dup_is_one(spark, docs):
    pairs = {(r["a"], r["b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(4, 5)] >= 0.5
    assert (1, 6) not in pairs and (4, 6) not in pairs


def test_minhash_signature_deterministic(spark, docs):
    s1 = sorted(map(tuple, minhash_signatures(docs).collect()))
    s2 = sorted(map(tuple, minhash_signatures(docs.repartition(5)).collect()))
    assert s1 == s2


def test_simhash_near_dup_small_hamming(spark, docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert h[1] == h[2]
    assert bin(h[4] ^ h[5]).count("1") <= 6
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert (4, 5) in pairs


def test_fingerprints_shared_for_dups(spark, docs):
    fp = fingerprints(docs, k=8, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] == by_doc[2]
    # near-dup shares most fingerprints
    inter = len(by_doc[1] & by_doc[3])
    assert inter >= max(1, len(by_doc[1]) // 2)
    assert not (by_doc[1] & by_doc[6])


def test_fingerprints_short_text_emits_nothing(spark):
    """Texts shorter than k (incl. empty/NULL) yield ZERO fingerprint
    rows — the unguarded sequence went DESCENDING and minted phantom
    rows at positions <= 0 whose h32('') collided across all short
    docs (and diverged from the oracle's empty range())."""
    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, None), (4, "long enough text here")],
        "doc_id long, text string")
    rows = fingerprints(docs, k=8, w=4).collect()
    assert {r["doc_id"] for r in rows} == {4}
    assert all(r["pos"] >= 1 for r in rows)


def test_minhash_rejects_nondividing_bands(spark, docs):
    """k % bands != 0 silently truncated r = k//bands, dropping tail
    signature slots from every band — now a loud error."""
    import pytest
    with pytest.raises(ValueError, match="not divisible"):
        minhash_lsh_pairs(docs, k=16, bands=5)


def test_frame_sample_zero_frame_video_skipped(spark):
    """A structurally-valid video blob declaring dim0=0 is skipped, not
    a job-killing IllegalArgumentException from sequence(0, -1, +n)."""
    import struct

    from crankshaft_spark.operators.multimodal import MAGIC, frame_sample
    blob = MAGIC + struct.pack(">III", 2, 0, 5)
    media = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, media binary")
    assert frame_sample(media, every=4).count() == 0


def test_embedding_neardup(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(64)
    rows = []
    for i in range(20):
        v = rng.randn(64)
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in (base + rng.randn(64) * 0.05)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["a"], r["b"]): r["cos"]
             for r in embedding_neardup_pairs(emb, dims=64, threshold=0.9).collect()}
    assert (100, 101) in pairs and pairs[(100, 101)] > 0.99
    assert all(a in (100,) and b in (101,) for a, b in pairs)


def test_media_decode_and_features(spark):
    media = synth_media(spark, n=30)
    meta = decode_metadata(media)
    rows = meta.collect()
    assert len(rows) == 30 and all(r["ok"] for r in rows)
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    feats = image_resize_features(media, out_w=4, out_h=4).collect()
    assert len(feats) == sum(1 for r in rows if r["kind"] == "image")
    assert all(len(r["feat"]) == 16 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["feat"])
    # determinism across parallelism
    f2 = image_resize_features(synth_media(spark, n=30).repartition(3)).collect()
    assert sorted((r["media_id"], tuple(r["feat"])) for r in feats) == \
        sorted((r["media_id"], tuple(r["feat"])) for r in f2)


def test_media_malformed_row_is_flagged(spark):
    bad = spark.createDataFrame(
        [(1, bytearray(b"NOPE")), (2, None)], "media_id long, media binary"
    )
    rows = decode_metadata(bad).collect()
    assert all(not r["ok"] for r in rows)


def test_frame_sample_plan(spark):
    media = synth_media(spark, n=30)
    fs = frame_sample(media, every=4)
    meta = {r["media_id"]: r for r in decode_metadata(media).collect()}
    got = {}
    for r in fs.collect():
        got.setdefault(r["media_id"], []).append(r["frame_no"])
    for mid, frames in got.items():
        assert meta[mid]["kind"] == "video"
        assert frames == list(range(0, meta[mid]["dim0"], 4))
    # decode-reuse path: passing a pre-decoded meta frame yields the
    # identical frame set without re-decoding the media column
    reused = frame_sample(meta=decode_metadata(media), every=4)
    assert sorted((r["media_id"], r["frame_no"]) for r in reused.collect()) \
        == sorted((m, f) for m, fr in got.items() for f in fr)


def test_real_codec_roundtrip(spark):
    """fmt='real' emits genuine PNG/WAV containers; decoder='real' parses
    them with the stdlib codecs and the decoded checksum matches the
    closed-form payload rule (pixel_i=(id*31+i*7)%256 etc.)."""
    media = synth_media(spark, n=12, fmt="real")
    rows = {r["media_id"]: r
            for r in decode_metadata(media, decoder="real").collect()}
    assert len(rows) == 12 and all(r["ok"] for r in rows.values())
    for mid, r in rows.items():
        d0, d1 = 8 + mid % 24, 8 + (mid * 7) % 24
        if mid % 3 == 0:
            assert (r["kind"], r["dim0"], r["dim1"]) == ("image", d0, d1)
            want = sum((mid * 31 + i * 7) % 256 for i in range(d0 * d1))
        elif mid % 3 == 1:
            assert (r["kind"], r["dim0"], r["dim1"]) == ("audio", d0, d1 * 4)
            want = sum((mid * 13 + i * 11) % 65536 - 32768
                       for i in range(d1 * 4))
        else:
            assert (r["kind"], r["dim0"], r["dim1"]) == ("video", d0, d1)
            want = sum((mid * 31 + i * 7) % 256 for i in range(d0 * 4))
        assert r["payload_sum"] == want


def test_real_codec_rejects_corrupt(spark):
    from crankshaft_spark.operators.multimodal import png_encode

    import struct

    from crankshaft_spark.operators.multimodal import wav_encode

    good = png_encode(np.arange(64, dtype=np.uint8).reshape(8, 8))
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF  # flip a byte inside IDAT -> CRC mismatch
    # WAV with a fmt chunk whose declared length passes the body-length
    # check but is too short for the 16-byte fmt struct (struct.error
    # path), and one with an odd-length data chunk (np.frombuffer path)
    wav_short_fmt = (b"RIFF" + struct.pack("<I", 16) + b"WAVEfmt "
                     + struct.pack("<I", 4) + b"\x01\x00\x01\x00")
    wav_good = bytearray(wav_encode(8000, np.arange(4, dtype=np.int16)))
    fmt16 = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav_odd = (b"RIFF" + struct.pack("<I", 43) + b"WAVEfmt "
               + struct.pack("<I", 16) + fmt16
               + b"data" + struct.pack("<I", 7) + b"\x00" * 7)
    bad = spark.createDataFrame(
        [(1, bytearray(good)), (2, corrupt), (3, bytearray(b"not media")),
         (4, None), (5, bytearray(wav_short_fmt)), (6, bytearray(wav_odd)),
         (7, wav_good)],
        "media_id long, media binary",
    )
    rows = {r["media_id"]: r["ok"]
            for r in decode_metadata(bad, decoder="real").collect()}
    assert rows == {1: True, 2: False, 3: False, 4: False, 5: False,
                    6: False, 7: True}


def test_real_image_features_match_pixels(spark):
    media = synth_media(spark, n=9, fmt="real")
    feats = {r["media_id"]: r["feat"]
             for r in image_resize_features(
                 media, out_w=2, out_h=2, decoder="real").collect()}
    assert set(feats) == {0, 3, 6}  # image rows only
    for mid, feat in feats.items():
        d0, d1 = 8 + mid % 24, 8 + (mid * 7) % 24
        px = [[(mid * 31 + (r * d0 + c) * 7) % 256 for c in range(d0)]
              for r in range(d1)]
        want = [px[(r * d1) // 2][(c * d0) // 2] / 255.0
                for r in range(2) for c in range(2)]
        assert feat == pytest.approx(want)


def test_ann_ivf_recall_on_clustered_corpus(spark):
    """IVF probing recovers the exact top-k on a clustered corpus while
    scanning only a fraction of the lists."""
    import numpy as np

    from crankshaft_spark.operators.ann import ann_topk_ivf, cosine_topk

    rng = np.random.RandomState(11)
    centers = rng.randn(8, 32) * 5
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in (c + rng.randn(32) * 0.3)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probe = [float(x) for x in (centers[3] + rng.randn(32) * 0.1)]

    exact = [r["vec_id"] for r in cosine_topk(emb, probe, 10).collect()]
    approx = [r["vec_id"] for r in
              ann_topk_ivf(emb, probe, 10, n_lists=8, n_probe=2).collect()]
    # all true neighbors live in the probed cluster → full recall here
    assert set(approx) == set(exact)


def test_ivf_lloyd_deterministic_across_parallelism(spark):
    """quantizer='lloyd' gives identical top-k regardless of input
    partitioning (pinned init + rounded means + index tie-breaks)."""
    from crankshaft_spark.operators.ann import ann_topk_ivf

    rows = [
        (i, [float((((i + 1) * (j + 3)) % 17) - 8) / 8.0 for j in range(16)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probe = [float(((5 * j) % 11) - 5) / 5.0 for j in range(16)]
    a = ann_topk_ivf(emb, probe, k=5, n_lists=4, n_probe=2,
                     quantizer="lloyd").collect()
    b = ann_topk_ivf(emb.repartition(13), probe, k=5, n_lists=4, n_probe=2,
                     quantizer="lloyd").collect()
    assert [(r["vec_id"], r["rank"]) for r in a] == \
        [(r["vec_id"], r["rank"]) for r in b]
    assert len(a) == 5


def test_lloyd_vec_centroids_empty_input_is_named_error(spark):
    """No vectors → a ValueError naming the operator, from the init
    collect, for the kernel and for ivf_index's lloyd quantizer alike."""
    from crankshaft_spark.operators.ann import ivf_index, lloyd_vec_centroids

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="lloyd_vec_centroids: no input"):
        lloyd_vec_centroids(emb, n_lists=4)
    with pytest.raises(ValueError, match="lloyd_vec_centroids: no input"):
        ivf_index(emb, n_lists=4, quantizer="lloyd")


def test_real_codec_bmp_jpeg_gif(spark):
    """BMP round-trips through the full stdlib pixel decode (bottom-up AND
    top-down row order); JPEG/GIF blobs yield real header dimensions with
    a NULL payload_sum (no stdlib entropy/LZW inflater — honest seam);
    structurally-broken variants of all three flag ok=false."""
    import struct

    from crankshaft_spark.operators.multimodal import (
        bmp_decode,
        bmp_encode,
        image_resize_features,
    )

    px = ((np.arange(11 * 5, dtype=np.int64) * 7 + 3) % 256).astype(
        np.uint8).reshape(5, 11)           # w=11 exercises stride padding
    bmp = bmp_encode(px)
    w, h, got = bmp_decode(bmp)
    assert (w, h) == (11, 5) and (got == px).all()
    # top-down: negative height, rows stored first-to-last
    td = bytearray(bmp)
    td[22:26] = struct.pack("<i", -5)
    (off,) = struct.unpack("<I", bmp[10:14])
    stride = (11 + 3) & ~3
    rows = [bmp[off + r * stride:off + (r + 1) * stride] for r in range(5)]
    td[off:] = b"".join(reversed(rows))
    w, h, got = bmp_decode(bytes(td))
    assert (w, h) == (11, 5) and (got == px).all()

    # minimal structurally-valid JPEG: SOI, APP0, SOF0 (h=17, w=23), EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 17, 23) + b"\x01\x11\x00")
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    gif = b"GIF89a" + struct.pack("<HH", 40, 30) + b"\x00\x00\x00"
    bad_bmp = bytearray(bmp)
    bad_bmp[28:30] = struct.pack("<H", 24)          # 24bpp: outside profile
    jpeg_nosof = b"\xff\xd8" + app0 + b"\xff\xd9"   # EOI before any SOF
    gif_zero = b"GIF89a" + struct.pack("<HH", 0, 30) + b"\x00\x00\x00"

    media = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(jpeg)), (3, bytearray(gif)),
         (4, bytearray(bad_bmp)), (5, bytearray(jpeg_nosof)),
         (6, bytearray(gif_zero))],
        "media_id long, media binary",
    )
    rows = {r["media_id"]: r
            for r in decode_metadata(media, decoder="real").collect()}
    assert rows[1]["ok"] and rows[1]["kind"] == "image"
    assert (rows[1]["dim0"], rows[1]["dim1"]) == (11, 5)
    assert rows[1]["payload_sum"] == int(px.astype(np.int64).sum())
    assert rows[2]["ok"] and (rows[2]["dim0"], rows[2]["dim1"]) == (23, 17)
    assert rows[2]["payload_sum"] is None
    assert rows[3]["ok"] and (rows[3]["dim0"], rows[3]["dim1"]) == (40, 30)
    assert rows[3]["payload_sum"] is None
    assert not rows[4]["ok"] and not rows[5]["ok"] and not rows[6]["ok"]

    # resize features run off the BMP pixel decode too
    feats = {r["media_id"]: r["feat"]
             for r in image_resize_features(
                 media, out_w=2, out_h=2, decoder="real").collect()}
    assert set(feats) == {1}
    want = [px[(r * 5) // 2][(c * 11) // 2] / 255.0
            for r in range(2) for c in range(2)]
    assert feats[1] == pytest.approx(want)


def test_dedup_components_resolves_transitive_groups(spark):
    """Pairs (1,2),(2,3) never emit (1,3), but all three must land in ONE
    component; a path graph needs multiple propagation rounds; singletons
    keep themselves."""
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 12, 20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12)],
        "a long, b long")
    got = {r["doc_id"]: (r["component"], r["n_members"], r["is_keep"])
           for r in dedup_components(docs, pairs).collect()}
    assert got == {
        1: (1, 5, True), 2: (1, 5, False), 3: (1, 5, False),
        4: (1, 5, False), 5: (1, 5, False),
        10: (10, 3, True), 11: (10, 3, False), 12: (10, 3, False),
        20: (20, 1, True),
    }


def test_dedup_components_parallelism_invariant(spark):
    """min-label propagation is order-free: identical labels at any
    partitioning (the scalebench rows_identical contract)."""
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 38, 2)]       # 19 two-doc groups
        + [(1, 3), (3, 5)],                          # chain joins 3 of them
        "a long, b long")
    a = sorted(map(tuple, dedup_components(docs, pairs).collect()))
    b = sorted(map(tuple, dedup_components(
        docs.repartition(7), pairs.repartition(5)).collect()))
    assert a == b
    # groups {0..5} merged via the odd chain: component 0 has 6 members
    assert (0, 0, 6, True) in a


def test_dedup_components_on_lsh_pairs(spark, docs):
    """End-to-end: LSH pair detection feeding group resolution — exact dup
    (1,2) and near dup 3 resolve into one keep; 6 stays a singleton."""
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    got = {r["doc_id"]: (r["component"], r["is_keep"])
           for r in dedup_components(docs, pairs).collect()}
    assert got[1] == (1, True) and got[2] == (1, False)
    assert got[6] == (6, True)
    assert got[4][0] == got[5][0] == 4


def _min_label_union_find(nodes, edges):
    """{node: min node of its component}, by union-find."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)   # the root is the min node
    return {v: find(v) for v in nodes}


@contextmanager
def _arrow_batch_rows(spark, n):
    """Cap Arrow batches, so dedup_components' blocks, at ``n`` rows."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _shuffled_path(n, seed):
    ids = (np.random.default_rng(seed).permutation(n) * 7 + 11).tolist()
    return ids, list(zip(ids[:-1], ids[1:]))


def test_dedup_components_deep_chain_and_backstop(spark):
    """A 30-node chain converges without tuning; the max_rounds backstop
    fails loudly instead of returning split groups, and releases every
    checkpoint the call made.  The chain fits one block, so it is solved
    in one round: the backstop is driven by a shuffled-id path forced
    into 16-edge blocks, which needs several."""
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "a long, b long")
    got = dedup_components(docs, pairs).collect()
    assert all(r["component"] == 0 for r in got)
    assert sum(r["is_keep"] for r in got) == 1
    held = spark.sparkContext._jsc.getPersistentRDDs().keySet
    before = set(held())
    ids, edges = _shuffled_path(200, seed=5)
    pdocs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ppairs = spark.createDataFrame(edges, "a long, b long")
    with _arrow_batch_rows(spark, 16):
        with pytest.raises(ValueError, match="did not converge"):
            dedup_components(pdocs, ppairs, max_rounds=1)
    assert set(held()) <= before


def test_dedup_components_many_blocks(spark):
    """Blocks capped at 32 edges, so every graph spans many blocks and
    rounds: a 1 000-node path with shuffled ids and a random sparse graph
    (isolated docs, pair-only ids) match union-find, the second also
    under keep_col."""
    ids, edges = _shuffled_path(1000, seed=9)
    rng = np.random.default_rng(17)
    rand = list(zip(rng.integers(0, 1500, 700).tolist(),
                    rng.integers(0, 1500, 700).tolist()))
    rand_docs = list(range(0, 1500, 2))
    q = {i: float((i * 7) % 10) / 10 for i in rand_docs}
    with _arrow_batch_rows(spark, 32):
        got = dedup_components(
            spark.createDataFrame([(i,) for i in ids[::3]], "doc_id long"),
            spark.createDataFrame(edges, "a long, b long")).collect()
        assert len(got) == 1000
        assert all(r["component"] == min(ids) for r in got)
        assert sum(r["is_keep"] for r in got) == 1
        got = {r["doc_id"]: (r["component"], r["n_members"], r["is_keep"])
               for r in dedup_components(
                   spark.createDataFrame(list(q.items()),
                                         "doc_id long, quality double"),
                   spark.createDataFrame(rand, "a long, b long"),
                   keep_col="quality").collect()}
    nodes = set(rand_docs) | {v for e in rand for v in e}
    comp = _min_label_union_find(nodes, rand)
    members: dict = {}
    for v in nodes:
        members.setdefault(comp[v], []).append(v)
    want = {}
    for c, ms in members.items():
        best = min(ms, key=lambda u: (-q.get(u, float("-inf")), u))
        want.update({v: (c, len(ms), v == best) for v in ms})
    assert got == want


def test_image_ahash_replay_and_pairs(spark):
    """aHash matches a numpy replay of the integer pooling contract
    through the REAL PNG round trip; banded pairs find a noised near-dup
    without an all-pairs product and respect the max_hamming bound."""
    from crankshaft_spark.operators.multimodal import (
        ahash_pairs, image_ahash, png_encode, synth_media)

    media = synth_media(spark, n=30, seed=42, fmt="real")
    got = {r["media_id"]: (r["width"], r["height"], r["ahash"])
           for r in image_ahash(media, decoder="real").collect()}
    # only the PNG rows (kind 0) hash
    assert set(got) == {i for i in range(30) if i % 3 == 0}

    def replay(mid):
        d0, d1 = 8 + mid % 24, 8 + (mid * 7) % 24
        i = np.arange(d0 * d1, dtype=np.int64)
        px = ((mid * 31 + i * 7) % 256).reshape(d1, d0)
        ybl = np.arange(d1) * 8 // d1
        xbl = np.arange(d0) * 8 // d0
        blk = (ybl[:, None] * 8 + xbl[None, :]).ravel()
        bsum = np.bincount(blk, weights=px.ravel(), minlength=64)
        bcnt = np.bincount(blk, minlength=64)
        bits = bsum * (d0 * d1) > px.sum() * bcnt
        return (d0, d1, "".join(
            f"{sum(int(bits[r * 8 + c]) << c for c in range(8)):02x}"
            for r in range(8)))

    assert got == {m: replay(m) for m in got}

    # near-dup: flip a few pixels hard enough to move ~2 blocks' bits
    mid = 12
    d0, d1 = 8 + mid % 24, 8 + (mid * 7) % 24
    i = np.arange(d0 * d1, dtype=np.int64)
    px = ((mid * 31 + i * 7) % 256).astype(np.uint8).reshape(d1, d0)
    noisy = px.copy()
    noisy[0:2, 0:2] = 255
    pair_media = spark.createDataFrame(
        [(1, bytearray(png_encode(px))), (2, bytearray(png_encode(noisy))),
         (3, bytearray(png_encode(255 - px)))],
        "media_id long, media binary")
    hashes = image_ahash(pair_media, decoder="real")
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in ahash_pairs(hashes, max_hamming=6).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    # the inverted image is far from both -> filtered out
    assert all(3 not in p for p in pairs)
    with pytest.raises(ValueError):
        ahash_pairs(hashes, max_hamming=8)


def test_audio_fingerprint_replay_and_pairs(spark):
    """audio_fingerprint matches a numpy replay of the 64-window
    energy-sign contract through the REAL WAV round trip (short tracks
    skipped); ahash_pairs(col='fp') finds a lightly-noised near-dup and
    filters a scrambled track."""
    from crankshaft_spark.operators.multimodal import (
        ahash_pairs, audio_fingerprint, synth_media, wav_encode)

    media = synth_media(spark, n=30, seed=42, fmt="real")
    got = {r["media_id"]: (r["rate"], r["n_samples"], r["fp"])
           for r in audio_fingerprint(media, decoder="real").collect()}
    # audio rows are kind 1; tracks need >= 64 samples (d1*4 >= 64)
    expect = {i for i in range(30)
              if i % 3 == 1 and (8 + (i * 7) % 24) * 4 >= 64}
    assert got.keys() == expect and expect  # non-vacuous

    def replay(mid):
        d0, d1 = 8 + mid % 24, 8 + (mid * 7) % 24
        n = d1 * 4
        i = np.arange(n, dtype=np.int64)
        s = (mid * 13 + i * 11) % 65536 - 32768
        e = s ** 2
        w = i * 64 // n
        wsum = np.bincount(w, weights=e, minlength=64).astype(np.int64)
        wcnt = np.bincount(w, minlength=64).astype(np.int64)
        bits = wsum * n > int(e.sum()) * wcnt
        return (d0 * 1000, n, "".join(
            f"{sum(int(bits[r * 8 + c]) << c for c in range(8)):02x}"
            for r in range(8)))

    assert got == {m: replay(m) for m in got}

    # near-dup: damp a short run of samples; scramble kills similarity
    rng = np.random.RandomState(7)
    s = (rng.randint(-20000, 20000, 256)).astype(np.int16)
    noisy = s.copy()
    noisy[10:20] //= 2
    pair_media = spark.createDataFrame(
        [(1, bytearray(wav_encode(8000, s))),
         (2, bytearray(wav_encode(8000, noisy))),
         (3, bytearray(wav_encode(8000, s[rng.permutation(256)])))],
        "media_id long, media binary")
    fps = audio_fingerprint(pair_media, decoder="real")
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in ahash_pairs(fps, max_hamming=6, col="fp").collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    # the scrambled track's window-energy profile is randomized -> far
    # from both originals, so it must not pair
    assert all(3 not in p for p in pairs)


def test_dedup_components_keep_by_quality(spark):
    """keep_col switches the keeper to the best-scoring member per
    component: max quality wins, ties fall to min id, NULL scores lose,
    component labels and sizes are unchanged, exactly one keeper each."""
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, None), (4, 0.5), (5, 0.5), (6, 0.1)],
        "doc_id long, quality double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long")
    got = {r["doc_id"]: (r["component"], r["n_members"], r["is_keep"])
           for r in dedup_components(
               docs, pairs, keep_col="quality").collect()}
    assert got == {
        1: (1, 3, False), 2: (1, 3, True), 3: (1, 3, False),  # max 0.9
        4: (4, 2, True), 5: (4, 2, False),                    # tie -> min id
        6: (6, 1, True),                                      # singleton
    }
    # default policy unchanged: keeper is the component label
    dflt = {r["doc_id"]: r["is_keep"]
            for r in dedup_components(docs, pairs).collect()}
    assert dflt == {1: True, 2: False, 3: False, 4: True, 5: False, 6: True}

    # edge parity with the default policy: pair-only nodes stay in the
    # output (scoreless — they lose to any scored member), and duplicate
    # docs rows collapse to the doc's best score instead of fanning out
    docs2 = spark.createDataFrame(
        [(1, 0.5), (1, 0.9), (2, 0.7)], "doc_id long, quality double")
    pairs2 = spark.createDataFrame([(1, 99), (2, 99)], "a long, b long")
    rows = dedup_components(docs2, pairs2, keep_col="quality").collect()
    got2 = {r["doc_id"]: (r["component"], r["n_members"], r["is_keep"])
            for r in rows}
    assert len(rows) == 3  # one row per doc incl. pair-only node 99
    assert got2 == {1: (1, 3, True),    # best score 0.9 (dup collapsed)
                    2: (1, 3, False), 99: (1, 3, False)}
    # an all-scoreless component falls back to min id
    pairs3 = spark.createDataFrame([(7, 8)], "a long, b long")
    empty_docs = spark.createDataFrame([], "doc_id long, quality double")
    got3 = {r["doc_id"]: r["is_keep"] for r in dedup_components(
        empty_docs, pairs3, keep_col="quality").collect()}
    assert got3 == {7: True, 8: False}


def test_near_dedup_one_call(spark):
    """near_dedup keeps exactly one doc per near-dup cluster with all
    columns intact: the best-scoring member under keep_col, the min-id
    member by default; distinct docs survive untouched."""
    from crankshaft_spark.operators.dedup import near_dedup

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different words about training data pipelines"
    docs = spark.createDataFrame(
        [(1, text_a, 0.3), (2, text_a, 0.8), (3, text_b, 0.5)],
        "doc_id long, text string, quality double")
    best = near_dedup(docs, threshold=0.9, keep_col="quality")
    assert sorted((r["doc_id"], r["quality"]) for r in best.collect()) \
        == [(2, 0.8), (3, 0.5)]
    dflt = near_dedup(docs, threshold=0.9)
    assert sorted(r["doc_id"] for r in dflt.collect()) == [1, 3]


def test_dedup_components_union_find_property(spark):
    """Connected components match a Python union-find replay on random
    small graphs — including pair endpoints absent from docs (the
    round-3 early-convergence bug class) and keep_col keeper selection
    (few examples — each is a full label-propagation run)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=5, deadline=None)
    @given(st.data())
    def prop(data):
        doc_ids = sorted(data.draw(st.sets(
            st.integers(0, 30), min_size=1, max_size=12)))
        edges = data.draw(st.lists(st.tuples(
            st.integers(0, 30), st.integers(0, 30)),
            max_size=15).filter(lambda es: all(a != b for a, b in es)))
        docs = spark.createDataFrame(
            [(i, float((i * 7) % 10) / 10) for i in doc_ids],
            "doc_id long, quality double")
        pairs = spark.createDataFrame(edges, "a long, b long") \
            if edges else spark.createDataFrame([], "a long, b long")
        got = {r["doc_id"]: (r["component"], r["n_members"], r["is_keep"])
               for r in dedup_components(
                   docs, pairs, keep_col="quality").collect()}

        # union-find replay over docs ∪ endpoints
        nodes = set(doc_ids) | {v for e in edges for v in e}
        parent = {v: v for v in nodes}

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in edges:
            parent[find(a)] = find(b)
        comp = {v: min(u for u in nodes if find(u) == find(v))
                for v in nodes}
        size = {c: sum(1 for v in nodes if comp[v] == c)
                for c in comp.values()}
        q = {i: ((i * 7) % 10) / 10 for i in doc_ids}
        want = {}
        for v in nodes:
            members = [u for u in nodes if comp[u] == comp[v]]
            best = min(members,
                       key=lambda u: (-q.get(u, float("-inf")), u))
            want[v] = (comp[v], size[comp[v]], v == best)
        assert got == want

    prop()


def test_image_neardup_end_to_end(spark):
    """The full image-dedup pipeline a training run composes: aHash ->
    banded pairs -> connected components -> keep one per cluster.  Two
    noised clusters resolve to their min-id keeper; the unrelated image
    stays its own singleton keeper."""
    from crankshaft_spark.operators.dedup import dedup_components
    from crankshaft_spark.operators.multimodal import (
        ahash_pairs, image_ahash, png_encode)

    rng = np.random.RandomState(11)
    base1 = rng.randint(0, 256, (24, 24)).astype(np.uint8)
    base2 = rng.randint(0, 256, (24, 24)).astype(np.uint8)
    n1, n2 = base1.copy(), base2.copy()
    n1[0:2, 0:2] = 255
    n2[5:7, 5:7] = 0
    blobs = [(1, base1), (2, n1), (3, base2), (4, n2),
             (5, 255 - base1)]
    media = spark.createDataFrame(
        [(i, bytearray(png_encode(px))) for i, px in blobs],
        "media_id long, media binary")
    hashes = image_ahash(media, decoder="real")
    pairs = ahash_pairs(hashes, max_hamming=7)
    comp = dedup_components(
        hashes.select(F.col("media_id").alias("doc_id")), pairs)
    got = {r["doc_id"]: (r["component"], r["is_keep"])
           for r in comp.collect()}
    assert got[1] == (1, True) and got[2] == (1, False)
    assert got[3] == (3, True) and got[4] == (3, False)
    assert got[5] == (5, True)


def test_media_near_dedup_keeps_highest_resolution(spark):
    """A 2x pixel-doubled copy hashes identically (8x8 pooling is scale
    free), so the cluster keeps the HIGHER-resolution copy; unrelated
    images and non-image blobs pass through."""
    from crankshaft_spark.operators.multimodal import (
        media_near_dedup, png_encode, wav_encode)

    rng = np.random.RandomState(5)
    base = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    up = np.kron(base, np.ones((2, 2), dtype=np.uint8))  # 32x32 copy
    other = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    wav = wav_encode(8000, np.zeros(128, dtype=np.int16))
    media = spark.createDataFrame(
        [(1, bytearray(png_encode(base))), (2, bytearray(png_encode(up))),
         (3, bytearray(png_encode(other))), (4, bytearray(wav))],
        "media_id long, media binary")
    kept = sorted(r["media_id"] for r in media_near_dedup(
        media, decoder="real", max_hamming=2).collect())
    assert kept == [2, 3, 4]  # high-res copy survives; audio untouched


def test_audio_near_dedup_keeps_longest(spark):
    """A sample-doubled (time-stretched) copy fingerprints identically
    (window sums scale, the mean comparison cancels), so the cluster
    keeps the LONGER track; unrelated audio and images pass through."""
    from crankshaft_spark.operators.multimodal import (
        audio_near_dedup, png_encode, wav_encode)

    rng = np.random.RandomState(9)
    s = rng.randint(-20000, 20000, 512).astype(np.int16)
    stretched = np.repeat(s, 2)  # 1024 samples, same energy profile
    other = rng.randint(-20000, 20000, 512).astype(np.int16)
    img = png_encode(rng.randint(0, 256, (16, 16)).astype(np.uint8))
    media = spark.createDataFrame(
        [(1, bytearray(wav_encode(8000, s))),
         (2, bytearray(wav_encode(8000, stretched))),
         (3, bytearray(wav_encode(8000, other))),
         (4, bytearray(img))],
        "media_id long, media binary")
    kept = sorted(r["media_id"] for r in audio_near_dedup(
        media, decoder="real", max_hamming=2).collect())
    assert kept == [2, 3, 4]  # longer copy survives; image untouched


def test_fingerprints_skip_garbage(spark):
    """Undecodable / NULL blobs never raise in the fingerprint operators —
    they are skipped row-by-row (same error-channel policy as
    decode_metadata), for both the real and fake decoders."""
    from crankshaft_spark.operators.multimodal import (
        audio_fingerprint, image_ahash)

    df = spark.createDataFrame(
        [(1, bytearray(b"")), (2, bytearray(b"\x00" * 40)),
         (3, bytearray(b"RIFFxxxxWAVE")), (4, None),
         (5, bytearray(b"\x89PNG\r\n\x1a\n" + b"junk" * 8))],
        "media_id long, media binary")
    assert image_ahash(df, decoder="real").count() == 0
    assert audio_fingerprint(df, decoder="real").count() == 0
    assert image_ahash(df).count() == 0
    assert audio_fingerprint(df).count() == 0


def test_fingerprint_fake_path_consistent_with_metadata(spark):
    """The fake (CSMM) decoder paths of image_ahash/audio_fingerprint
    report the same dims/rate convention as decode_metadata on the same
    blobs (dim0 IS the declared sample-rate; payload is d0*4 samples)."""
    from crankshaft_spark.operators.multimodal import (
        audio_fingerprint, decode_metadata, image_ahash, synth_media)

    media = synth_media(spark, n=30, seed=7)
    meta = {r["media_id"]: r for r in decode_metadata(media).collect()}
    fps = audio_fingerprint(media).collect()
    ahs = image_ahash(media).collect()
    assert fps and ahs  # non-vacuous
    for r in fps:
        m = meta[r["media_id"]]
        assert m["kind"] == "audio"
        assert r["rate"] == m["dim0"]
        assert r["n_samples"] == m["dim0"] * 4 >= 64
    for r in ahs:
        m = meta[r["media_id"]]
        assert m["kind"] == "image"
        assert (r["width"], r["height"]) == (m["dim0"], m["dim1"])


def test_ahash_pairs_lossless_property(spark):
    """The 8-band pigeonhole join + popcount prune recover EXACTLY the
    brute-force Hamming<=k pair set for arbitrary 64-bit fingerprints
    and any k in 0..7 (few examples — each is a Spark round-trip)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crankshaft_spark.operators.multimodal import ahash_pairs

    @settings(max_examples=6, deadline=None)
    @given(st.data())
    def prop(data):
        k = data.draw(st.integers(0, 7))
        seeds = data.draw(st.lists(
            st.integers(0, 2**64 - 1), min_size=1, max_size=3))
        vals = []
        for i in range(20):
            v = seeds[i % len(seeds)]
            for b in data.draw(st.lists(st.integers(0, 63), max_size=6)):
                v ^= 1 << b
            vals.append(v)
        df = spark.createDataFrame(
            [(i, f"{v:016x}") for i, v in enumerate(vals)],
            "media_id long, ahash string")
        got = {(r["a"], r["b"]): r["hamming"]
               for r in ahash_pairs(df, max_hamming=k).collect()}
        want = {}
        for a in range(20):
            for b in range(a + 1, 20):
                h = bin(vals[a] ^ vals[b]).count("1")
                if h <= k:
                    want[(a, b)] = h
        assert got == want

    prop()


def test_audio_fingerprint_long_track_no_overflow(spark):
    """Regression: the cross-multiplied energy comparison must not wrap
    int64.  A 2M-sample loud track with a silent lead pushes tsum*wcnt
    past 2^63 (2M^2 * 2^29 / 64 ~ 2^75); a wrapping implementation
    inverts the silent windows' bits.  Verified against an unbounded
    Python-int replay."""
    from crankshaft_spark.operators.multimodal import (
        audio_fingerprint, wav_encode)

    n = 1 << 21
    rng = np.random.RandomState(3)
    s = rng.randint(-30000, 30000, n).astype(np.int16)
    s[: n // 4] = 0  # silent lead: wsum=0 there, tsum huge
    media = spark.createDataFrame(
        [(1, bytearray(wav_encode(44100, s)))], "media_id long, media binary")
    (row,) = audio_fingerprint(media, decoder="real").collect()

    e = [int(v) ** 2 for v in s.astype(np.int64)]
    tsum = sum(e)
    starts = [(w * n + 63) // 64 for w in range(64)] + [n]
    bits = []
    for w in range(64):
        wsum = sum(e[starts[w]:starts[w + 1]])
        wcnt = starts[w + 1] - starts[w]
        bits.append(wsum * n > tsum * wcnt)
    want = "".join(
        f"{sum(int(bits[r * 8 + c]) << c for c in range(8)):02x}"
        for r in range(8))
    assert row["fp"] == want and row["n_samples"] == n
    # the silent quarter must read BELOW the mean (bits 0..15 clear)
    assert int(want[:4], 16) == 0


def test_near_dedup_keeper_restricted_to_docs(spark):
    """External pairs can reference ids absent from docs; the keeper must
    be chosen among docs members: docs={5,6,9}, pairs={(3,5),(5,6)} —
    the component label is the pair-only 3, and keeping label==id would
    silently drop ALL of {5,6}.  Same hazard via keep_col when every
    docs member of the cluster is NULL-scored."""
    from crankshaft_spark.operators.dedup import near_dedup

    docs = spark.createDataFrame(
        [(5, "x", None), (6, "y", None), (9, "z", 1.0)],
        "doc_id long, text string, quality double")
    pairs = spark.createDataFrame([(3, 5), (5, 6)], "a long, b long")
    got = sorted(r["doc_id"] for r in near_dedup(docs, pairs=pairs).collect())
    assert got == [5, 9]
    got2 = sorted(r["doc_id"] for r in near_dedup(
        docs, pairs=pairs, keep_col="quality").collect())
    assert got2 == [5, 9]


def test_near_dedup_components_reuse_and_shuffle_fallback(spark):
    """components= reuses precomputed labels (same survivors as the
    pairs= path, keeper policy re-derived) and the survivor anti-join
    degrades to a shuffled SortMergeJoin when broadcasting is disabled —
    the documented scale bailout for dropped-id sets beyond broadcast
    size."""
    from crankshaft_spark.operators.dedup import dedup_components, near_dedup

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different words about training data pipelines"
    docs = spark.createDataFrame(
        [(1, text_a, 0.3), (2, text_a, 0.8), (3, text_b, 0.5)],
        "doc_id long, text string, quality double")
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    comp = dedup_components(docs, pairs)
    via_comp = near_dedup(docs, components=comp, keep_col="quality")
    assert sorted(r["doc_id"] for r in via_comp.collect()) == [2, 3]
    via_pairs = near_dedup(docs, pairs=pairs, keep_col="quality")
    assert sorted(r["doc_id"] for r in via_pairs.collect()) == [2, 3]

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        nb = near_dedup(docs, components=comp)
        rows = sorted(r["doc_id"] for r in nb.collect())
        assert rows == [1, 3]
        plan = nb._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_ahash_pairs_hot_bucket_cap(spark):
    """max_bucket drops over-full (band, key) buckets from candidate
    generation (the documented n^2/256 fan-out bailout): a pair whose
    only agreeing bytes sit in hot buckets is missed under the cap,
    while pairs agreeing on cold buckets survive; default None keeps
    exact pigeonhole recall."""
    from crankshaft_spark.operators.multimodal import ahash_pairs

    # (1,2): bytes 0-3 = "00" (will be hot), bytes 4-7 differ by 1 bit
    # each -> hamming 4, shared bytes are ONLY the hot ones
    h1 = "00" * 4 + "11" * 4
    h2 = "00" * 4 + "13" * 4
    # (10,11): hamming 1, agree on cold "aa" bytes
    h3 = "aa" * 8
    h4 = "aa" * 7 + "ab"
    fillers = [
        (100 + i, "00" * 4 + "".join(f"{(0x20 + 4 * i + j):02x}"
                                     for j in range(4)))
        for i in range(6)
    ]
    rows = [(1, h1), (2, h2), (10, h3), (11, h4)] + fillers
    hashes = spark.createDataFrame(rows, "media_id long, ahash string")

    base = {(r["a"], r["b"]): r["hamming"]
            for r in ahash_pairs(hashes, max_hamming=4).collect()}
    assert base[(1, 2)] == 4
    assert base[(10, 11)] == 1

    capped = {(r["a"], r["b"]): r["hamming"]
              for r in ahash_pairs(hashes, max_hamming=4,
                                   max_bucket=6).collect()}
    assert (1, 2) not in capped       # only hot buckets agreed -> dropped
    assert capped[(10, 11)] == 1      # cold-bucket pair survives


def test_near_dedup_uncovered_docs_survive(spark):
    """A caller-supplied components= table built from a different docs
    snapshot must not silently delete docs ids it never saw: uncovered
    ids are unclustered singletons and survive."""
    from crankshaft_spark.operators.dedup import dedup_components, near_dedup

    old_docs = spark.createDataFrame(
        [(1, "a"), (2, "a")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    comp = dedup_components(old_docs, pairs)
    # new snapshot gained doc 7, absent from comp
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (7, "new")], "doc_id long, text string")
    got = sorted(r["doc_id"] for r in near_dedup(
        docs, components=comp).collect())
    assert got == [1, 7]


def test_embedding_near_dedup_one_call(spark):
    """SemDeDup-style one-call embedding dedup: near-identical vectors
    collapse to one survivor (best keep_col member, min id by default);
    distinct vectors pass through untouched."""
    from crankshaft_spark.operators.ann import embedding_near_dedup

    base = [1.0, 0.5, -0.25, 0.125]
    near = [1.0001, 0.5001, -0.2501, 0.1251]
    far = [-1.0, 0.5, 0.25, -0.125]
    rows = [(1, base, 0.2), (2, near, 0.9), (3, far, 0.5)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, quality double")
    dflt = sorted(r["vec_id"] for r in embedding_near_dedup(
        emb, dims=4, n_planes=4, threshold=0.999).collect())
    assert dflt == [1, 3]
    best = sorted(r["vec_id"] for r in embedding_near_dedup(
        emb, dims=4, n_planes=4, threshold=0.999,
        keep_col="quality").collect())
    assert best == [2, 3]
    # stage-reuse params (the gate entry's path): precomputed pairs /
    # components give the same survivors as the one-call form
    from crankshaft_spark.operators.ann import embedding_neardup_pairs
    from crankshaft_spark.operators.dedup import dedup_components

    pairs = embedding_neardup_pairs(
        emb, dims=4, n_planes=4, threshold=0.999).localCheckpoint(
        eager=True)
    via_pairs = sorted(r["vec_id"] for r in embedding_near_dedup(
        emb, dims=4, pairs=pairs).collect())
    assert via_pairs == dflt
    comp = dedup_components(emb, pairs, id_col="vec_id")
    via_comp = sorted(r["vec_id"] for r in embedding_near_dedup(
        emb, dims=4, components=comp).collect())
    assert via_comp == dflt
