"""Operator-level unit tests: P2 projection edge cases, dedup
family, text functions, vector math vs numpy ground truth."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators import dedup, multimodal, projection, similarity, text
from reddit_sse_stream_spark.sources.tables import load_table


# --------------------------------------------------------------------- P2


def test_p2_keeps_only_listed_keys(spark):
    df = spark.createDataFrame([('{"a":"1","b":"2","c":"3"}',)], "json string")
    out = df.select(projection.json_key_subset("json", ["a", "c"]).alias("d")).first()[0]
    assert json.loads(out) == {"a": "1", "c": "3"}


def test_p2_no_match_yields_empty_object(spark):
    # sse.py:237 — zero matching keys -> '{}'
    df = spark.createDataFrame([('{"a":"1"}',)], "json string")
    out = df.select(projection.json_key_subset("json", ["zzz"]).alias("d")).first()[0]
    assert out == "{}"


def test_p2_values_stay_strings(spark):
    # schema-on-read as map<string,string>: numeric values keep their lexical
    # form, matching the reference's json round-trip of string-typed hashes
    df = spark.createDataFrame([('{"k": 87}',)], "json string")
    out = df.select(projection.json_key_subset("json", ["k"]).alias("d")).first()[0]
    assert json.loads(out) == {"k": "87"}


# ------------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat again and again", "en", "s", 60),  # near dup
        (3, "completely different text about spark query engines at scale", "en", "s", 60),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


def test_exact_dedup_keep_first(docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup_keep_first(docs).collect())
    assert kept == [0, 2, 3]


def test_exact_dedup_groups(docs):
    groups = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dedup_groups(docs).collect()}
    assert groups == {0: 2, 2: 1, 3: 1}


def test_simhash_exact_dups_equal_and_near_dups_close(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[1]
    ham_near = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[3]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


def test_simhash_kernel_matches_python_vote(spark, sf_dir):
    """The Arrow vote/pack kernel must equal a plain per-bit +/-1 vote over
    the same JVM token hashes, on BOTH hash seams (xxhash64/64-bit with
    negative hashes exercising the sign bit, and md5/60-bit)."""
    docs = load_table(spark, sf_dir, "documents").limit(200)

    def vote(hs, bits):
        code = sum(
            1 << b
            for b in range(bits)
            if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0
        )
        return code - (1 << 64) if code >= 1 << 63 else code

    for bits, hash_fn in [(64, F.xxhash64), (60, dedup.md5_hash60)]:
        got = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash(docs, bits=bits, hash_fn=hash_fn).collect()
        }
        th = dedup._tokens_barrier(docs).select(
            "doc_id", F.transform(F.col("_w"), lambda t: hash_fn(t)).alias("th")
        )
        want = {r["doc_id"]: vote(r["th"], bits) for r in th.collect()}
        assert got == want


def test_simhash_hamming_banding_is_complete(spark, sf_dir):
    """4x15-bit banding guarantees (pigeonhole) that EVERY pair within
    hamming distance 3 shares a chunk — so the banded candidate join must
    find exactly the brute-force all-pairs result at that radius, not a
    chunk-colliding subset (the round-2 bug paired a <=15 filter with a
    <=3-complete banding)."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in QUERIES["dedup_simhash_hamming_pairs"].spark(spark, sf_dir).collect()
    }
    sh = dedup.simhash(
        load_table(spark, sf_dir, "documents"), bits=60, hash_fn=dedup.md5_hash60
    )
    rows = sorted((r["doc_id"], r["simhash"]) for r in sh.collect())
    brute = {
        (a_id, b_id, bin(a ^ b).count("1"))
        for i, (a_id, a) in enumerate(rows)
        for b_id, b in rows[i + 1 :]
        if bin(a ^ b).count("1") <= 3
    }
    assert got == brute
    assert brute, "radius too tight for the fixture: brute-force set is empty"


# -------------------------------------------------------------------- text


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("one",)], "text string")
    got = [r[0] for r in df.select(text.token_count("text")).collect()]
    assert got == [3, 1]


def test_marker_hits_space_delimited(spark):
    df = spark.createDataFrame([("the cat the hat theater",)], "text string")
    got = df.select(text.marker_hits("text", "the").alias("n")).first()["n"]
    assert got == 2  # 'theater' must not count


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], "text string")
    fps = [r[0] for r in df.select(text.fingerprint("text")).collect()]
    assert fps[0] == fps[1]
    assert len(fps[0]) == 16


# -------------------------------------------------------------- similarity


def test_cosine_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").limit(50).cache()
    rows = emb.collect()
    q = np.array(rows[0]["embedding"], dtype=np.float64)
    expected = {}
    for r in rows[1:]:
        v = np.array(r["embedding"], dtype=np.float64)
        expected[r["vec_id"]] = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
    got = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != rows[0]["vec_id"]), list(q), k=10
    ).collect()
    for r in got:
        assert math.isclose(r["cos_sim"], expected[r["vec_id"]], abs_tol=1e-5)
    top_expected = sorted(expected, key=lambda k: (-round(expected[k], 6), k))[:10]
    assert [r["vec_id"] for r in got] == top_expected


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200).cache()
    q = list(emb.first()["embedding"])
    approx = similarity.lsh_topk(emb, q, k=5)
    assert approx.count() <= 5  # bucket may be small; never more than k


def test_cosine_near_dup_lsh_invariants(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80).cache()
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.cosine_pairs_exact(emb, threshold=0.2).collect()
    }
    # 0 planes -> every vector lands in bucket 0 -> LSH degenerates to exact.
    degen = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.near_dup_pairs_lsh(
            emb, threshold=0.2, n_planes=0, n_tables=1
        ).collect()
    }
    assert set(degen) == set(exact)
    for pair, score in degen.items():
        # numpy reassociates the sums; at a 1e-4 floor boundary the last
        # digit may differ from the HOF path by one ulp-step
        assert abs(score - exact[pair]) <= 1e-4 + 1e-12
    # Real bucketing: verified pairs are a subset with identical scores.
    approx = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.near_dup_pairs_lsh(
            emb, threshold=0.2, n_planes=6, n_tables=4
        ).collect()
    }
    assert set(approx) <= set(exact)
    for pair, score in approx.items():
        assert abs(score - exact[pair]) <= 1e-4 + 1e-12


def test_cosine_near_dup_lsh_single_bucketing_pass_no_storage_leak(spark, sf_dir):
    """Regression (VERDICT r03): the bucket self-join ran the Arrow
    bucketing kernel once per join side, and the earlier cache fix leaked
    executor storage.  The r08 vectors-once shape must show exactly ONE
    bucketing MapInPandas and ONE grouped-map GEMM kernel
    (FlatMapGroupsInPandas) in the executed plan — pair rows never
    materialize, so there is no scoring MapInPandas and no pair re-join —
    and leave nothing persisted after the action."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 96)
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    df = similarity.near_dup_pairs_lsh(emb, threshold=0.2, n_planes=6, n_tables=4)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString repeats the tree under "== Initial Plan ==" — count
    # kernels in the executed (final) section only.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, plan
    assert final.count("FlatMapGroupsInPandas") == 1, plan
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert after <= before, f"persistent RDDs leaked: {after - before}"


def test_multi_consumer_operators_leave_cache_manager_empty(spark, sf_dir):
    """Operators that materialize a frame for multiple consumers must not
    use DataFrame.cache(): the CacheManager holds the plan strongly until
    an explicit unpersist, so every invocation leaks executor storage for
    the session's lifetime (VERDICT r03).  localCheckpoint blocks are
    weak-ref cleaned instead.  Guard: after running the multi-consumer
    operators, no plan may remain registered in the CacheManager."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    # other tests legitimately cache their own frames; start clean so the
    # assertion sees only what THESE operators register
    spark.catalog.clearCache()
    for name in ("dedup_minhash_lsh", "graph_triangle_count"):
        QUERIES[name].spark(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "a query left a cached plan registered in the CacheManager"
    )


# -------------------------------------------------------------- multimodal


def test_media_features_shapes(spark, sf_dir):
    media = multimodal.synthesize_media(load_table(spark, sf_dir, "documents").limit(20))
    feats = multimodal.extract_features(media, dim=8).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["feat"]) == 8
        assert abs(sum(r["feat"]) - 1.0) < 1e-3  # normalized histogram


def test_wav_roundtrip_real_container_and_features(spark, sf_dir):
    """The r09 real-audio path: _encode_wav must produce a genuine RIFF/WAVE
    PCM16 container (parseable by any WAV reader), the Spark kernel must
    decode it back to the exact generative samples, and the feature math
    (peak/sumsq/zero_cross/checksum) must match a direct fold of the
    formula.  A corrupted payload byte must CHANGE the decoded checksum —
    the property that makes the oracle a decode proof, not a tautology."""
    import struct
    import wave as wavemod
    from io import BytesIO

    from reddit_sse_stream_spark.operators.multimodal import (
        _decode_wav_features,
        _encode_wav,
        _wav_n_samples,
        _wav_sample,
    )

    mid = 37  # 37 % 3 == 1 -> audio kind
    payload = _encode_wav(mid)
    # container-level facts: header magic + standard 44-byte PCM header
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    n = _wav_n_samples(mid)
    assert len(payload) == 44 + 2 * n
    # an independent reader decodes the same frames
    with wavemod.open(BytesIO(payload), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, 8000)
        frames = struct.unpack(f"<{n}h", w.readframes(n))
    expect = [_wav_sample(mid, i) for i in range(n)]
    assert list(frames) == expect
    ns, peak, sumsq, zc, checksum = _decode_wav_features(payload)
    assert ns == n
    assert peak == max(abs(s) for s in expect)
    assert sumsq == sum(s * s for s in expect)
    assert zc == sum(
        1 for a, b in zip(expect, expect[1:]) if (a >= 0) != (b >= 0)
    )
    assert checksum == sum(s & 0xFFFF for s in expect) % (1 << 31)
    # flip one frame byte -> checksum must move (decode proof, not tautology)
    corrupted = bytearray(payload)
    corrupted[50] ^= 0xFF
    assert _decode_wav_features(bytes(corrupted))[4] != checksum
    # end-to-end through the Arrow kernel: audio/image rows real, video fake
    docs = load_table(spark, sf_dir, "documents").limit(9)
    media = multimodal.synthesize_media(docs, real_media=True)
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(media, decode_real=True).collect()
    }
    for mid2, r in out.items():
        if r["kind"] == "audio":
            exp = [_wav_sample(mid2, i) for i in range(_wav_n_samples(mid2))]
            assert r["n_samples"] == len(exp)
            assert r["n_bytes"] == 44 + 2 * len(exp)
            assert r["sumsq"] == sum(s * s for s in exp)
            assert r["checksum"] == sum(s & 0xFFFF for s in exp) % (1 << 31)
            assert r["img_w"] is None
        else:
            assert r["n_samples"] is None and r["peak"] is None
        if r["kind"] == "video":
            # r10: video decodes a real uncompressed AVI — frame dims in
            # the shared pixel-feature columns, frame count in vid_frames
            assert (r["img_w"], r["img_h"]) == (16, 8)
            assert r["vid_frames"] == 2 + r["media_id"] % 5
        else:
            assert r["vid_frames"] is None


def test_bmp_roundtrip_real_container_and_features(spark, sf_dir):
    """The image sibling of the WAV round-trip: _encode_bmp must produce a
    genuine 24-bit BMP (headers + bottom-up BGR rows + padding), the
    decoder must reconstruct logical top-down RGB exactly, and the
    position-weighted checksum must catch BOTH a value flip and an
    order-handling mistake (a top-down misread of real bottom-up data)."""
    from reddit_sse_stream_spark.operators.multimodal import (
        _bmp_dims,
        _bmp_pix,
        _decode_bmp_features,
        _encode_bmp,
    )

    mid = 36  # 36 % 3 == 0 -> image kind
    payload = _encode_bmp(mid)
    w, h = _bmp_dims(mid)
    stride = (w * 3 + 3) // 4 * 4
    assert payload[:2] == b"BM"
    assert len(payload) == 54 + h * stride
    vals = [_bmp_pix(mid, i) for i in range(w * h * 3)]
    iw, ih, sum_rgb, peak, checksum = _decode_bmp_features(payload)
    assert (iw, ih) == (w, h)
    assert sum_rgb == sum(vals)
    assert peak == max(vals)
    assert checksum == sum((i + 1) * v for i, v in enumerate(vals)) % (1 << 31)
    # value flip detection
    corrupted = bytearray(payload)
    corrupted[60] = (corrupted[60] + 1) % 256
    assert _decode_bmp_features(bytes(corrupted))[4] != checksum
    # order-mistake detection: rebuild the file with rows stored TOP-DOWN
    # (the classic BMP decoder bug) — same bytes, wrong order -> red
    data = payload[54:]
    rows = [data[r * stride : (r + 1) * stride] for r in range(h)]
    flipped = payload[:54] + b"".join(reversed(rows))
    if h > 1:
        assert _decode_bmp_features(flipped)[4] != checksum
    # end-to-end: the catalog row's image features match the formula —
    # the container ROTATES by (id // 3) % 3: PNG (n_bytes = inflated
    # scanline size), BMP (container length), baseline JPEG (decoded
    # sample count, grayscale per-block formula).  limit(9) covers all
    # three classes (image ids 0, 3, 6).
    from reddit_sse_stream_spark.operators.multimodal import (
        _jpeg_block_val,
        _jpeg_dims,
    )

    docs = load_table(spark, sf_dir, "documents").limit(9)
    media = multimodal.synthesize_media(docs, real_media=True)
    seen_classes = set()
    for r in multimodal.extract_features(media, decode_real=True).collect():
        if r["kind"] != "image":
            continue
        cls = (r["media_id"] // 3) % 3
        seen_classes.add(cls)
        if cls == 2:  # JPEG, grayscale block formula
            w2, h2 = _jpeg_dims(r["media_id"])
            bw2 = w2 // 8
            blocks = [
                _jpeg_block_val(r["media_id"], b)
                for b in range((w2 // 8) * (h2 // 8))
            ]
            assert (r["img_w"], r["img_h"]) == (w2, h2)
            assert r["sum_rgb"] == 64 * sum(blocks)
            assert r["pix_peak"] == max(blocks)
            assert r["n_bytes"] == w2 * h2
            continue
        w2, h2 = _bmp_dims(r["media_id"])
        vals2 = [_bmp_pix(r["media_id"], i) for i in range(w2 * h2 * 3)]
        assert (r["img_w"], r["img_h"]) == (w2, h2)
        assert r["sum_rgb"] == sum(vals2)
        assert r["pix_peak"] == max(vals2)
        if cls == 0:
            assert r["n_bytes"] == h2 * (1 + 3 * w2)
        else:
            assert r["n_bytes"] == 54 + h2 * ((w2 * 3 + 3) // 4 * 4)
    assert seen_classes == {0, 1, 2}


def test_avi_roundtrip_real_video_container_and_features():
    """r10: the video path's marked fake replaced by a REAL uncompressed
    AVI.  _encode_avi must produce a genuine RIFF/AVI chunk tree any
    player opens; _decode_avi_features must walk it (avih geometry, strf
    format, movi '00db' frames), reconstruct bottom-up BGR to logical
    top-down RGB per frame, and fold the global position-weighted
    checksum.  Tamper probes: a FRAME-ORDER swap flips the checksum (the
    global index weights frames), and a header/stream frame-count
    mismatch raises."""
    import pytest as _pytest

    from reddit_sse_stream_spark.operators.multimodal import (
        AVI_FRAME_H,
        AVI_FRAME_W,
        _avi_n_frames,
        _avi_pix,
        _decode_avi_features,
        _encode_avi,
    )

    mid = 2  # 2 % 3 == 2 -> video kind
    payload = _encode_avi(mid)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    n = _avi_n_frames(mid)
    w, h = AVI_FRAME_W, AVI_FRAME_H
    vals = [_avi_pix(mid, j) for j in range(n * w * h * 3)]
    out = _decode_avi_features(payload)
    assert out == (
        w, h, sum(vals), max(vals),
        sum((j + 1) * v for j, v in enumerate(vals)) % (1 << 31),
        n * w * h * 3, n,
    )
    # frame-order tamper: swap the first two '00db' frame payloads
    stride = (w * 3 + 3) // 4 * 4
    fsz = stride * h
    f1 = payload.index(b"00db")
    f2 = payload.index(b"00db", f1 + 4)
    swapped = bytearray(payload)
    a = payload[f1 + 8 : f1 + 8 + fsz]
    b = payload[f2 + 8 : f2 + 8 + fsz]
    swapped[f1 + 8 : f1 + 8 + fsz] = b
    swapped[f2 + 8 : f2 + 8 + fsz] = a
    tampered = _decode_avi_features(bytes(swapped))
    assert tampered[4] != out[4]      # checksum red
    assert tampered[2] == out[2]      # same bytes, same sum — order caught
    # header/stream frame-count mismatch raises (truncate the movi list)
    with _pytest.raises(ValueError, match="frame count mismatch"):
        _decode_avi_features(payload[: f2] + payload[-8:])


def test_jpeg_roundtrip_lossy_codec_exact_on_dc_only_content():
    """r10 stretch past VERDICT r09 next #8: a genuine BASELINE JPEG
    codec — marker stream, canonical DHT Huffman tables, DC-difference
    entropy coding with 0xFF byte stuffing, dequant + full IDCT on
    decode.  The content is per-8x8-block constant (DC-only, quant 8
    divides DC evenly), the subset of a LOSSY codec whose round-trip is
    exact — so the decode is value-pinned, not eyeballed.  Tamper
    probes: a flipped entropy byte changes decoded features or dies in
    the Huffman decoder; a non-baseline marker raises."""
    import pytest as _pytest

    from reddit_sse_stream_spark.operators.multimodal import (
        _decode_jpeg_features,
        _encode_jpeg,
        _jpeg_block_val,
        _jpeg_dims,
    )

    mid = 6  # 6 % 3 == 0 -> image kind; (6 // 3) % 3 == 2 -> JPEG
    payload = _encode_jpeg(mid)
    w, h = _jpeg_dims(mid)
    bw = w // 8
    blocks = [_jpeg_block_val(mid, b) for b in range(bw * (h // 8))]
    iw, ih, sgray, peak, checksum, nb = _decode_jpeg_features(payload)
    assert (iw, ih, nb) == (w, h, w * h)
    assert sgray == 64 * sum(blocks)
    assert peak == max(blocks)
    exp_ck = sum(
        (y * w + x + 1) * blocks[(y // 8) * bw + (x // 8)]
        for y in range(h)
        for x in range(w)
    ) % (1 << 31)
    assert checksum == exp_ck
    # tamper: flip a bit in the entropy stream (after SOS) — either the
    # Huffman decode dies or the decoded content diverges
    sos = payload.index(b"\xff\xda")
    corrupted = bytearray(payload)
    corrupted[sos + 12] ^= 0x55
    try:
        out = _decode_jpeg_features(bytes(corrupted))
        assert out[4] != checksum or out[2] != sgray
    except (ValueError, IndexError):
        pass  # invalid Huffman path — equally red
    # non-baseline (progressive SOF2) must be refused, not mis-decoded
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="non-baseline"):
        _decode_jpeg_features(prog)


def test_png_roundtrip_compressed_container_and_features():
    """VERDICT r09 next #8 — the compressed-format decode, pure stdlib:
    _encode_png must produce a genuine PNG (magic, CRC-32-checked chunks,
    zlib IDAT, all five row-filter types), and _decode_png_features must
    inflate + unfilter back to exactly the generative pixels.  Three
    failure modes pinned: a flipped IDAT byte dies on chunk CRC, a
    decoder that skipped unfiltering could not reproduce the checksum
    (the filtered scanlines provably differ from the logical bytes), and
    a truncated deflate stream cannot inflate to h*(1+3w)."""
    import zlib as _zlib

    import pytest as _pytest

    from reddit_sse_stream_spark.operators.multimodal import (
        PNG_MAGIC,
        _bmp_dims,
        _bmp_pix,
        _decode_png_features,
        _encode_png,
    )

    mid = 36  # 36 % 3 == 0 -> image kind; (36 // 3) % 3 == 0 -> PNG class
    payload = _encode_png(mid)
    w, h = _bmp_dims(mid)
    assert payload[:8] == PNG_MAGIC
    assert h >= 5  # every filter type 0..4 exercised (filter = y % 5)
    vals = [_bmp_pix(mid, i) for i in range(w * h * 3)]
    iw, ih, sum_rgb, peak, checksum, n_inflated = _decode_png_features(payload)
    assert (iw, ih) == (w, h)
    assert n_inflated == h * (1 + 3 * w)
    assert sum_rgb == sum(vals)
    assert peak == max(vals)
    assert checksum == sum((i + 1) * v for i, v in enumerate(vals)) % (1 << 31)
    # the filters are load-bearing: the inflated (still-filtered) stream
    # differs from the bare logical bytes on the filtered rows, so a
    # decoder that skips unfiltering cannot reproduce the checksum
    idat_off = payload.index(b"IDAT") + 4
    (idat_len,) = __import__("struct").unpack_from(
        ">I", payload, idat_off - 8
    )
    raw = _zlib.decompress(payload[idat_off : idat_off + idat_len])
    stride = w * 3
    filtered_rows = [
        raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)] for y in range(h)
    ]
    logical_rows = [
        bytes(vals[y * stride : (y + 1) * stride]) for y in range(h)
    ]
    assert any(f != l for f, l in zip(filtered_rows, logical_rows))
    # CRC catches a single flipped byte inside IDAT
    corrupted = bytearray(payload)
    corrupted[idat_off + 4] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        _decode_png_features(bytes(corrupted))


def test_frame_sample_every_nth(spark, sf_dir):
    media = multimodal.synthesize_media(load_table(spark, sf_dir, "documents").limit(30))
    rows = multimodal.frame_sample(media, every_n=4).collect()
    assert rows, "expected some video frames"
    assert all(r["frame_idx"] % 4 == 0 for r in rows)


# -------------------------------------------------------------- timeseries / packing / cc


def test_gap_fill_dense_grid_and_ffill(spark, sf_dir):
    from reddit_sse_stream_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 3)
    out = timeseries.gap_fill_ffill(ev).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r["h"])
        # dense hourly grid: every consecutive gap is exactly 1h
        for a, b in zip(rows, rows[1:]):
            assert (b["h"] - a["h"]).total_seconds() == 3600
        # forward fill never leaves a hole (first hour is observed)
        assert all(r["v_ffill"] is not None for r in rows)


def test_pack_sequences_contiguous_and_budgeted(spark, sf_dir):
    from reddit_sse_stream_spark.operators import packing

    docs = load_table(spark, sf_dir, "documents")
    out = packing.pack_sequences(docs, budget=256).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r["doc_id"])
        offset = 0
        for r in rows:
            assert r["start_offset"] == offset  # contiguous token stream
            assert r["pack_id"] == offset // 256  # pack of the first token
            offset += r["n_tokens"]


def test_connected_components_chain_and_islands(spark):
    from reddit_sse_stream_spark.operators import dedup as dd

    # chain 1-2-3-4 (diameter 3, needs multiple rounds), pair 10-11,
    # and 7 appearing only on the dst side
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (6, 7)], "id_a long, id_b long"
    )
    got = {r["id"]: r["component"] for r in dd.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 6: 6, 7: 6}


def test_connected_components_raises_when_not_converged(spark):
    """Non-fixpoint labels are wrong labels: a chain longer than max_iter
    rounds must raise, not silently return a half-propagated clustering."""
    from reddit_sse_stream_spark.operators import dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=2)
    # ...and the same graph converges fine with enough rounds
    got = {
        r["id"]: r["component"]
        for r in dd.connected_components(chain, max_iter=10).collect()
    }
    assert set(got.values()) == {0}


def test_lsh_topk_recall_against_bruteforce(spark, sf_dir):
    """knn via single-probe LSH bucketing gets a falsifiable quality bar:
    every returned id must sit in the exact top-50, and recall@5 vs the
    exact top-5 must be >= 0.8 (deterministic: LCG planes, fixed data)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    rest = emb.filter(F.col("vec_id") != 0)
    lsh_ids = [
        r["vec_id"] for r in similarity.lsh_topk(rest, qv, k=5, n_planes=8).collect()
    ]
    bf50 = [r["vec_id"] for r in similarity.brute_force_topk(rest, qv, k=50).collect()]
    assert set(lsh_ids) <= set(bf50), "LSH returned an id outside exact top-50"
    recall = len(set(lsh_ids) & set(bf50[:5])) / 5
    assert recall >= 0.8


def test_cosine_pairs_exact_guards_quadratic_blowup(spark, sf_dir):
    """The all-pairs baseline must refuse a full-table cartesian unless the
    caller explicitly opts in (the catalog entry runs a subsample)."""
    from reddit_sse_stream_spark.operators.similarity import ALL_PAIRS_ROW_BOUND

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    wide = emb
    while n <= ALL_PAIRS_ROW_BOUND:  # inflate past the bound via self-union
        wide = wide.unionAll(wide)
        n *= 2
    with pytest.raises(ValueError, match="allow_quadratic"):
        similarity.cosine_pairs_exact(wide)
    # small inputs pass through the guard untouched
    assert similarity.cosine_pairs_exact(emb.limit(20), threshold=-1.0).count() > 0


def test_word_ngrams_short_doc_guard(spark):
    """Docs shorter than n words contribute no grams (the sequence() guard:
    Spark's sequence(1, 0) would step DOWN without it)."""
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    grams = {
        (r["doc_id"], r["gram"]) for r in text.word_ngrams(df, 5).collect()
    }
    assert grams == {(1, "a b c d e"), (1, "b c d e f")}
    bi = text.word_ngrams(df, 2)
    assert bi.filter(F.col("doc_id") == 3).count() == 0
    assert bi.filter(F.col("doc_id") == 1).count() == 5


def test_word_ngram_hashes_split_on_ascii_whitespace_only(spark):
    """Fuzz over whitespace-heavy / short / repetitive texts: per-doc total
    and distinct gram counts must equal a tokenizer that splits on the
    explicit ASCII class (Java's \\s), keeping empty edge tokens.
    Unicode whitespace (U+00A0 NBSP, U+2028 LS, U+3000) must be a TOKEN
    CHARACTER — Python's Unicode-aware \\s would split there while
    java.util.regex \\s does not (ADVICE r04), so the seps pool mixes
    ASCII separators with Unicode pseudo-separators and words carrying
    embedded Unicode spaces.  Cases are drawn once (deterministic seed)
    and run as one batch so the Spark overhead is paid once."""
    import random
    import re

    rng = random.Random(0xC0FFEE)
    words = ["a", "bb", "ccc", "Ab", "\u00e9t\u00e9", "x1", "", "zz",
             "q\u00a0r", "s\u3000t", "\u2028w"]
    seps = [" ", "  ", "\t", "\n", " \t ", "   ", "\x0b",
            " \u00a0 ", "\u2028", "\u00a0"]
    cases = []
    for i in range(60):
        n = rng.randint(0, 12)
        t = "".join(
            rng.choice(words) + rng.choice(seps) for _ in range(n)
        )
        if rng.random() < 0.3:
            t = rng.choice(seps) + t  # leading whitespace -> empty edge token
        cases.append((i, t))
    df = spark.createDataFrame(cases, "doc_id long, text string")

    got = {
        (r["doc_id"], r["n"], r["nd"])
        for r in text.word_ngram_hashes(df, 3)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.count_distinct("gram_h").alias("nd"))
        .collect()
    }
    want = set()
    for doc_id, t in cases:
        toks = re.split(r"[ \t\n\r\f\v]+", t)
        grams = [tuple(toks[j : j + 3]) for j in range(len(toks) - 2)]
        if grams:
            want.add((doc_id, len(grams), len(set(grams))))
    assert got == want


def test_repetition_score_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "all words differ here now")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.repetition_score(df).collect()}
    assert rows[1]["n_bigrams"] == 4 and rows[1]["n_unique"] == 1
    assert rows[1]["dup_frac"] == 0.75
    assert rows[2]["dup_frac"] == 0.0


def test_incremental_new_docs_drops_known_digests(spark):
    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also known")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "seen before"), (11, "brand new"), (12, "also known"), (13, "fresh")],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"] for r in dedup.incremental_new_docs(batch, corpus).collect()
    )
    assert got == [11, 13]
    # schema passes through untouched (no _digest residue)
    assert dedup.incremental_new_docs(batch, corpus).columns == ["doc_id", "text"]


def test_vocab_stats_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    rows = {r["term"]: r for r in text.vocab_stats(df).collect()}
    assert rows["a"]["tf"] == 3 and rows["a"]["df"] == 2 and rows["a"]["doc_frac"] == 1.0
    assert rows["b"]["tf"] == 1 and rows["b"]["df"] == 1 and rows["b"]["doc_frac"] == 0.5


def test_md5_hash60_range_and_determinism(spark):
    df = spark.createDataFrame([("tok",), ("",), ("spark rules",)], "t string")
    rows = df.select(dedup.md5_hash60(F.col("t")).alias("h")).collect()
    vals = [r["h"] for r in rows]
    assert all(0 <= v < (1 << 60) for v in vals)
    # pinned: python hashlib md5('tok') first 15 hex digits
    import hashlib

    want = int(hashlib.md5(b"tok").hexdigest()[:15], 16)
    assert vals[0] == want


def test_minhash_md5_pairs_are_true_near_dups(spark, sf_dir):
    """Every pair the md5 LSH path emits must be a genuine >=0.8 Jaccard
    pair under direct shingle comparison (no false positives post-verify)."""
    docs = load_table(spark, sf_dir, "documents")
    got = dedup.minhash_md5_near_dups(docs).collect()
    assert len(got) > 0
    assert all(r["jaccard"] >= 0.8 for r in got)
    assert all(r["doc_a"] < r["doc_b"] for r in got)


@pytest.mark.parametrize("n_buckets", [1 << 20, 512, 7])
def test_bloom_prefilter_equals_exact(spark, sf_dir, n_buckets):
    """The bloom-accelerated path must return EXACTLY the same new-doc set
    as the plain digest anti-join, at every bucket count:

    - 1<<20 buckets: most batch rows land in unoccupied buckets and take
      the definitely-new fast path;
    - 512: a mix — both legs of the split carry rows;
    - 7: every bucket is occupied by some corpus digest, so the whole
      batch falls through to the exact join — the regression case for the
      round-2 bug where collision rows were silently DROPPED instead of
      falling through."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    exact = {r["doc_id"] for r in dedup.incremental_new_docs(batch, corpus).collect()}
    got = {
        r["doc_id"]
        for r in dedup.bloom_prefilter_new_docs(
            batch, corpus, n_buckets=n_buckets
        ).collect()
    }
    assert got == exact


def test_bucket_pair_explode_full_recall_and_uniqueness(spark):
    """bucket_pair_explode is a WORK PARTITION, not a filter: every
    within-bucket pair must appear exactly once, including pairs whose
    members hash into different sub-groups."""
    import itertools

    rows = [("b1", i) for i in range(40)] + [("b2", i) for i in range(100, 103)]
    members = spark.createDataFrame(rows, "bucket string, id long")
    got = sorted(
        (r.a, r.b)
        for r in dedup.bucket_pair_explode(
            members, ["bucket"], "id", "a", "b", cap=7
        ).collect()
    )
    want = sorted(
        itertools.chain(
            itertools.combinations(range(40), 2),
            itertools.combinations(range(100, 103), 2),
        )
    )
    assert got == want


def test_containment_gram_join_bounded_on_adversarial_corpus(spark):
    """Pin the candidate-fanout bound of the md5-gram containment family
    (VERDICT r05 next #7): an adversarial corpus where a pathological gram
    is shared by EVERY document must not blow the candidate equi-join up
    to m^2 — grams hotter than _JACCARD_DF_CAP are dropped wholesale, so
    the pre-distinct join work is Σ_cold df(g)^2 <= n_cold_grams * cap^2
    regardless of how degenerate the hot grams get, and recall over
    cold-gram pairs is untouched."""
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.plans.catalog import (
        _JACCARD_DF_CAP,
        _md5_gram_frames,
    )

    m = 400  # every doc shares this phrase -> one gram with df = m >> cap
    hot = "the quick brown fox jumps"
    rows = [(i, hot) for i in range(m)]
    # 3 genuine near-dup pairs marked by unique cold trigrams
    for k in range(3):
        uniq = f"alpha{k} beta{k} gamma{k} delta{k}"
        rows.append((1000 + 2 * k, f"{hot} {uniq}"))
        rows.append((1001 + 2 * k, f"{uniq} {hot}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s, cand = _md5_gram_frames(docs)
    ex = s.select("doc_id", F.explode("sh").alias("g"))
    per_gram = ex.groupBy("g").count()
    cold = per_gram.filter(F.col("count") <= _JACCARD_DF_CAP)
    # the adversarial gram is hot and fully dropped: join work is the
    # cold-side quadratic only, orders of magnitude below all-pairs
    join_work = cold.select(F.sum(F.col("count") * F.col("count"))).first()[0]
    n_cold = cold.count()
    assert join_work <= n_cold * _JACCARD_DF_CAP**2
    assert join_work < m * (m - 1) // 2  # << the 79800 all-pairs floor
    # recall: every genuine pair (sharing cold grams) still surfaces, and
    # no hot-gram-only pair does
    got = {(r.doc_a, r.doc_b) for r in cand.collect()}
    want = {(1000 + 2 * k, 1001 + 2 * k) for k in range(3)}
    assert got == want


def test_bucket_pair_explode_bounds_hot_bucket_cells(spark):
    """Adversarial degenerate bucket (every doc in ONE bucket): the pair
    work must fan out over many triangular cells with a bounded member
    count each — no single collect_list/m^2 explode task (VERDICT r04
    next #4)."""
    m, cap = 500, 50
    members = spark.createDataFrame(
        [("hot", i) for i in range(m)], "bucket string, id long"
    )
    cells = (
        dedup._pair_cells(members, ["bucket"], "id", cap)
        .groupBy("bucket", "ci", "cj")
        .count()
        .collect()
    )
    s = -(-m // cap)  # 10 sub-groups -> 55 cells
    assert len(cells) == s * (s + 1) // 2
    # Each cell holds one sub-group as L plus at most one as R; allow 4x
    # slack over the ideal m/s for hash skew.
    assert max(r["count"] for r in cells) <= 4 * cap
    # And the pairs coming out of those bounded cells are still complete.
    n_pairs = dedup.bucket_pair_explode(
        members, ["bucket"], "id", "a", "b", cap=cap
    ).count()
    assert n_pairs == m * (m - 1) // 2


def test_media_features_payload_byte_deterministic(spark, sf_dir):
    """The media payload path (synthesize -> Arrow feature kernel) must be
    byte-deterministic: same docs, any partitioning -> identical checksums,
    byte counts, and feature vectors.  This is the value-level coverage the
    oracle-less ``media_features`` catalog entry names in its docstring
    (the driver's rows-only check plus ``media_features_meta``'s hash
    oracle cover the rest)."""
    docs = load_table(spark, sf_dir, "documents").limit(40)

    def rows(df):
        return sorted(
            (r["media_id"], r["kind"], r["n_bytes"], r["checksum"], tuple(r["feat"]))
            for r in multimodal.extract_features(
                multimodal.synthesize_media(df)
            ).collect()
        )

    assert rows(docs) == rows(docs.repartition(7))


def test_ivf_assignments_deterministic_under_repartition(spark, sf_dir):
    """The IVF quantizer is exact fixed-point arithmetic, so the model —
    and every cell assignment and top-k row — must be identical no matter
    how the parent frame is partitioned."""
    from reddit_sse_stream_spark.operators.ml_lsh import ivf_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])

    def topk(df):
        return sorted(
            (r["vec_id"], r["cos_sim"])
            for r in ivf_topk_cosine(
                df.filter(F.col("vec_id") != 0), qv, k=5, n_cells=8, n_probe=2
            ).collect()
        )

    assert topk(emb) == topk(emb.repartition(11))


def test_corpus_gate_keep_implies_all_flags(spark, sf_dir):
    from reddit_sse_stream_spark.operators import corpus

    rows = corpus.filter_gate(load_table(spark, sf_dir, "documents")).collect()
    assert rows
    kept = [r for r in rows if r["keep"] == 1]
    # the gate must discriminate on this data, not rubber-stamp
    assert 0 < len(kept) < len(rows)
    for r in rows:
        expect = int(
            r["len_ok"] == 1 and r["alpha_ok"] == 1 and r["rep_ok"] == 1 and r["lang_ok"] == 1
        )
        assert r["keep"] == expect


def test_corpus_split_fraction_and_determinism(spark, sf_dir):
    from reddit_sse_stream_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    rows = {r["doc_id"]: r["split"] for r in corpus.train_val_split(docs).collect()}
    frac = sum(1 for s in rows.values() if s == "val") / len(rows)
    assert 0.03 < frac < 0.2  # hash-uniform around 0.1
    again = {
        r["doc_id"]: r["split"]
        for r in corpus.train_val_split(docs.repartition(9)).collect()
    }
    assert rows == again


def test_corpus_split_leakage_safe_properties(spark, sf_dir):
    """The leakage guarantee itself: (1) both ends of every near-dup edge
    land in the same split; (2) docs with no edge get exactly the plain
    train_val_split assignment (turning the cluster-aware split on never
    reshuffles untouched docs)."""
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    edges = [(1, 2), (2, 3), (10, 11)]  # chain {1,2,3} + pair {10,11}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = {
        r["doc_id"]: (r["cluster_rep"], r["split"])
        for r in corpus.split_leakage_safe(docs, pairs).collect()
    }
    assert len(rows) == docs.count()
    # chain members share rep and split, across both edges of the chain
    assert rows[1] == rows[2] == rows[3] and rows[1][0] == 1
    assert rows[10] == rows[11] and rows[10][0] == 10
    plain = {
        r["doc_id"]: r["split"] for r in corpus.train_val_split(docs).collect()
    }
    touched = {1, 2, 3, 10, 11}
    for doc_id, (rep, split) in rows.items():
        if doc_id not in touched:
            assert rep == doc_id and split == plain[doc_id]
    # cluster members inherit the REPRESENTATIVE's plain assignment
    assert rows[2][1] == plain[1] and rows[11][1] == plain[10]


def test_pca_power_iteration_matches_numpy_direction(spark, sf_dir):
    """pc1 from the fixed-point power iteration must align with numpy's
    exact top right-singular direction of X (|corr| > 0.99 — quantization
    and 4-round truncation cost a little, sign is arbitrary), and be
    deterministic under repartitioning."""
    import numpy as np

    from reddit_sse_stream_spark.operators import corpus

    # spiked matrix: a genuine dominant direction (the testdata embeddings
    # are isotropic — eigengap ~1.04 — where NO fixed-round power method
    # converges; convergence rate is (l2/l1)^iters)
    rng = np.random.default_rng(7)
    u = rng.standard_normal(16)
    u /= np.linalg.norm(u)
    X = rng.standard_normal((200, 16)) + np.outer(rng.choice([-4.0, 4.0], 200), u)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["pc1"]
        for r in corpus.pca_top_component(df, dim=16).collect()
    }
    Xf = X.astype(np.float32).astype(np.float64)  # what Spark sees
    _, _, vt = np.linalg.svd(Xf, full_matrices=False)
    ref = Xf @ vt[0]
    mine = np.array([got[i] for i in range(200)])
    corr = np.corrcoef(mine, ref)[0, 1]
    assert abs(corr) > 0.999, corr
    # determinism under repartitioning (fixed-point sums are order-free)
    again = {
        r["vec_id"]: r["pc1"]
        for r in corpus.pca_top_component(df.repartition(7), dim=16).collect()
    }
    assert got == again


def test_ivf_fixedpoint_cells_deterministic_and_useful(spark, sf_dir):
    """The fixed-point Lloyd quantizer must (1) be bit-stable under
    repartitioning (the whole point of the fixed-point design), (2) use
    more than one cell, and (3) beat the trivial quantizer: mean within-
    cell cosine similarity (on unit vectors) above the global mean."""
    import numpy as np

    from reddit_sse_stream_spark.operators.ml_lsh import ivf_train

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r["vec_id"]: r["cell"] for r in ivf_train(emb).assignments.collect()}
    again = {
        r["vec_id"]: r["cell"]
        for r in ivf_train(emb.repartition(9)).assignments.collect()
    }
    assert got == again
    assert len(set(got.values())) > 1
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cells = np.array([got[r["vec_id"]] for r in rows])
    sims = X @ X.T
    mask = cells[:, None] == cells[None, :]
    np.fill_diagonal(mask, False)
    off = ~mask
    np.fill_diagonal(off, False)
    assert sims[mask].mean() > sims[off].mean()


def test_incremental_minhash_drops_near_dup_of_corpus(spark):
    """A batch doc that is a light edit of a corpus doc must be rejected;
    an unrelated batch doc must be admitted."""
    from reddit_sse_stream_spark.operators import dedup

    base = " ".join(f"word{i:02d}" for i in range(60))  # 56 distinct 5-grams
    edited = base.replace("word30", "edited", 1)  # ~5 changed shingles -> jac ~0.84
    rows = [
        (0, base, "en", "s", len(base)),               # corpus (even)
        (2, "completely different corpus text " * 8, "en", "s", 1),  # corpus
        (1, edited, "en", "s", len(edited)),            # batch: near-dup -> drop
        (3, "unrelated new material nothing shared with anything else "
            "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    kept = {
        r["doc_id"]
        for r in dedup.minhash_md5_incremental_new(docs, lambda c: c % 2 == 1).collect()
    }
    assert kept == {3}


def test_corpus_shards_contiguous_positions(spark, sf_dir):
    from collections import defaultdict

    from reddit_sse_stream_spark.operators import corpus

    rows = corpus.shard_assignments(
        load_table(spark, sf_dir, "documents"), n_shards=8
    ).collect()
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r["pos"])
    assert set(by_shard) == set(range(8))  # every shard populated
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_clean_normalize_canonical_form(spark, sf_dir):
    import re

    from reddit_sse_stream_spark.operators import corpus

    rows = corpus.clean_normalize(load_table(spark, sf_dir, "documents")).collect()
    assert rows
    for r in rows:
        assert re.fullmatch(r"[a-z0-9 ]*", r["text_clean"])
        assert "  " not in r["text_clean"]
        assert r["n_chars_clean"] == len(r["text_clean"])
        assert r["n_removed"] == r["n_chars_raw"] - r["n_chars_clean"]


def test_quantize_int8_matches_numpy(spark, sf_dir):
    import numpy as np

    from reddit_sse_stream_spark.operators import corpus

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    got = {r["vec_id"]: r for r in corpus.quantize_embeddings_int8(emb).collect()}
    for r in emb.collect():
        x = np.asarray(r["embedding"], dtype=np.float64)
        scale = max(float(np.max(np.abs(x))), 1e-30)
        q = np.floor(x / scale * 127 + 0.5).astype(int)
        g = got[r["vec_id"]]
        assert list(g["qvec"]) == q.tolist()
        assert g["scale_fp6"] == math.floor(scale * 1_000_000)
        assert np.all(np.abs(q) <= 127)
        err = float(np.max(np.abs(x - q * scale / 127)))
        assert abs(g["max_err"] - math.floor(err * 1e6) / 1e6) < 1e-12


def test_pii_redact_values_and_counts(spark, sf_dir):
    from reddit_sse_stream_spark.operators import corpus

    df = spark.createDataFrame(
        [
            (0, "mail me at a.b+c%d@sub.example.org thanks"),
            (1, "server 192.168.0.1 and 10.0.255.3 rebooted"),
            (2, "call 555-867-5309 now"),
            (3, "x@y.io then 1.2.3.4 then 555-000-1111"),
            (4, "no pii here at all"),
            # an IP is NOT a phone (last octet <= 3 digits), and a phone is
            # NOT an IP (its last group has 4 digits)
            (5, "edge 111-222-3333 vs 11.22.33.44"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in corpus.pii_redact(df).collect()}
    assert got[0]["redacted"] == "mail me at [EMAIL] thanks"
    assert (got[0]["n_email"], got[0]["n_ip"], got[0]["n_phone"]) == (1, 0, 0)
    assert got[1]["redacted"] == "server [IP] and [IP] rebooted"
    assert got[1]["n_ip"] == 2
    assert got[2]["redacted"] == "call [PHONE] now"
    assert got[3]["redacted"] == "[EMAIL] then [IP] then [PHONE]"
    assert (got[3]["n_email"], got[3]["n_ip"], got[3]["n_phone"]) == (1, 1, 1)
    assert got[4]["redacted"] == "no pii here at all"
    assert (got[4]["n_email"], got[4]["n_ip"], got[4]["n_phone"]) == (0, 0, 0)
    assert got[5]["redacted"] == "edge [PHONE] vs [IP]"
    assert (got[5]["n_ip"], got[5]["n_phone"]) == (1, 1)


def test_random_projection_matches_numpy_fixed_point(spark, sf_dir):
    import numpy as np

    from reddit_sse_stream_spark.operators import corpus

    emb = load_table(spark, sf_dir, "embeddings").limit(40)
    signs = np.asarray(corpus.rp_signs(8, 64), dtype=np.float64)  # (8, 64)
    got = {r["vec_id"]: r for r in corpus.random_projection_sketch(emb).collect()}
    for r in emb.collect():
        x = np.asarray(r["embedding"], dtype=np.float64)
        # exact fixed-point reference: per-addend floor, integer sum
        want = [
            int(np.sum(np.floor(x * signs[j] * 1_000_000 + 0.5))) / 1_000_000.0
            for j in range(8)
        ]
        g = got[r["vec_id"]]
        assert [g[f"proj_{j}"] for j in range(8)] == want


def test_rp_signs_deterministic_and_balanced(spark, sf_dir):
    from reddit_sse_stream_spark.operators import corpus

    a = corpus.rp_signs(8, 64)
    assert a == corpus.rp_signs(8, 64)
    flat = [s for row in a for s in row]
    assert set(flat) == {-1, 1}
    # md5 bits are unbiased: the 512-entry matrix can't be degenerate
    assert 0.3 < flat.count(1) / len(flat) < 0.7


def test_standardize_embeddings_matches_numpy_fixed_point(spark, sf_dir):
    import numpy as np

    from reddit_sse_stream_spark.operators import corpus

    emb = load_table(spark, sf_dir, "embeddings")
    X = np.asarray(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    n = X.shape[0]
    mean = np.sum(np.floor(X * 1_000_000 + 0.5), axis=0) / 1_000_000.0 / n
    ex2 = np.sum(np.floor(X * X * 1_000_000 + 0.5), axis=0) / 1_000_000.0 / n
    std = np.maximum(np.sqrt(np.maximum(ex2 - mean * mean, 0.0)), 1e-12)
    want = (X - mean) / std
    got = {r["vec_id"]: r["zvec"] for r in corpus.standardize_embeddings(emb).collect()}
    ids = sorted(got)
    Z = np.asarray([got[i] for i in ids], dtype=np.float64)
    # exact: every op after the integer sums is a single IEEE op
    assert np.array_equal(Z, want)
    # standardized columns are ~zero-mean unit-variance
    assert np.all(np.abs(Z.mean(axis=0)) < 0.01)
    assert np.all(np.abs(Z.std(axis=0) - 1.0) < 0.05)


def test_mix_schedule_sums_to_budget_exactly(spark, sf_dir):
    from reddit_sse_stream_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    rows = corpus.mix_schedule(docs, budget=1_000_000).collect()
    assert sum(r["alloc"] for r in rows) == 1_000_000
    # sqrt weighting: allocation ordering follows token-count ordering,
    # and per-source allocation stays within 1 of the exact real share
    import math

    w = {r["source"]: math.floor(math.sqrt(r["n_tokens"]) * 1e6) for r in rows}
    W = sum(w.values())
    for r in rows:
        exact = 1_000_000 * w[r["source"]] / W
        assert abs(r["alloc"] - exact) < 1.0
    # deterministic under repartitioning
    again = corpus.mix_schedule(docs.repartition(13), budget=1_000_000).collect()
    assert {(r["source"], r["alloc"]) for r in again} == {
        (r["source"], r["alloc"]) for r in rows
    }


def test_chunk_dup_stats_flags_cross_doc_chunks_only(spark):
    from reddit_sse_stream_spark.operators import text as textops

    # doc 0 and doc 1 share their (single) 4-word chunk; doc 2 is unique;
    # doc 3 is too short to yield any full chunk and must not appear.
    rows = [
        (0, "a b c d", "s1"),
        (1, "a b c d", "s2"),
        (2, "w x y z", "s1"),
        (3, "too short", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in textops.chunk_dup_stats(df, chunk_words=4).collect()
    }
    assert set(out) == {"s1", "s2"}  # s3 contributed zero full chunks
    assert out["s1"]["n_chunks"] == 2 and out["s1"]["n_dup_chunks"] == 1
    assert out["s2"]["n_chunks"] == 1 and out["s2"]["n_dup_chunks"] == 1
    assert out["s1"]["dup_rate"] == 0.5 and out["s2"]["dup_rate"] == 1.0


def test_chunk_dup_stats_within_doc_repeat_is_not_cross_doc_dup(spark):
    from reddit_sse_stream_spark.operators import text as textops

    # the same chunk twice in ONE doc: nd (distinct docs) stays 1, so it
    # must NOT count as duplicated — the metric is cross-document reuse.
    df = spark.createDataFrame(
        [(0, "a b a b", "s1")], "doc_id long, text string, source string"
    )
    [r] = textops.chunk_dup_stats(df, chunk_words=2).collect()
    assert r["n_chunks"] == 2 and r["n_dup_chunks"] == 0


def test_bpe_pair_counts_weighted_by_term_frequency(spark, sf_dir):
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = QUERIES["bpe_pair_merge_counts"].spark(spark, sf_dir).collect()
    assert len(out) == 50
    # descending counts with lexical tie-break => deterministic top-k
    keys = [(-r["cnt"], r["pair"]) for r in out]
    assert keys == sorted(keys)
    # every pair is 2 chars from inside a word (split never yields spaces)
    assert all(len(r["pair"]) == 2 and " " not in r["pair"] for r in out)


def test_vocab_coverage_topk_rates_bounded_and_exact_on_tiny(spark):
    from pyspark.sql import functions as F

    # 3 docs, vocab {a: 4, b: 2, c: 1}; with the catalog's K=64 every term
    # is in-vocab, so build the same plan shape inline with K=1: only "a"
    # is in vocab -> oov = 3 of 7 tokens.
    df = spark.createDataFrame(
        [(0, "a a b", "en"), (1, "a b c", "en"), (2, "a", "de")],
        "doc_id long, text string, lang string",
    )
    tok = df.select(
        "lang", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    )
    top = (
        tok.groupBy("term").agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("term")).limit(1).select("term")
    )
    flagged = tok.join(
        F.broadcast(top.withColumnRenamed("term", "_v")),
        tok["term"] == F.col("_v"), "left",
    )
    agg = {
        r["lang"]: r
        for r in flagged.groupBy("lang").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).alias("oov"),
        ).collect()
    }
    assert agg["en"]["n"] == 6 and agg["en"]["oov"] == 3
    assert agg["de"]["n"] == 1 and agg["de"]["oov"] == 0


def test_char_entropy_separates_gibberish_from_diverse_text(spark, tmp_path):
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    # route the catalog query at a tiny parquet dir: repeated-char spam
    # must score strictly fewer avg bits than character-diverse text.
    df = spark.createDataFrame(
        [(0, "aaaaaaaaaaaaaaaa", "en", "s", 16),
         (1, "the quick brown fox", "en", "s", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in QUERIES["text_char_entropy"].spark(spark, str(tmp_path)).collect()
    }
    assert out[0]["avg_bits"] == 0.0  # single symbol: zero information
    assert out[1]["avg_bits"] > 2.0
    assert out[1]["n_chars"] == 19


def test_repetition_runs_detects_stutter_and_mode(spark):
    """Crafted docs pin the two fold semantics: max_word_run counts the
    longest CONSECUTIVE same-word run, top_2gram_frac the mode bigram's
    share of bigram slots (sorted-array run == mode frequency)."""
    from reddit_sse_stream_spark.operators import text as textops

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "x y x y x y"), (3, "u v w z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.repetition_runs(docs).collect()}
    # doc 1: grams 'a a','a a','a a','a b' -> mode 3/4; run of 'a' = 4
    assert out[1].max_word_run == 4 and out[1].top_2gram_frac == 0.75
    # doc 2: alternation -> no run > 1, but mode gram 'x y' = 3/5
    assert out[2].max_word_run == 1 and out[2].top_2gram_frac == 0.6
    # doc 3: all distinct -> floor(1/3 * 1e4)/1e4
    assert out[3].max_word_run == 1 and out[3].top_2gram_frac == 0.3333
    assert out[1].n_words == 5 and out[1].n_2grams == 4


def test_repetition_runs_short_and_null_docs(spark):
    """ADVICE r06 high: a <2-token doc used to crash the bigram build
    (sequence(0, -1) is DESCENDING, so slice(ws, 0, 2) threw
    INVALID_PARAMETER_VALUE.START).  Pinned: 1-token and empty docs get
    n_2grams=0 / top_2gram_frac=0.0 (the oracle's len>=2 + COALESCE
    path), NULL-text docs drop (oracle's inner join drops them too)."""
    from reddit_sse_stream_spark.operators import text as textops

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "a a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.repetition_runs(docs).collect()}
    assert set(out) == {1, 2, 4}  # NULL text dropped
    assert out[1].n_words == 1 and out[1].n_2grams == 0
    assert out[1].top_2gram_frac == 0.0 and out[1].max_word_run == 1
    assert out[2].n_words == 1  # split('') -> ['']
    assert out[2].n_2grams == 0 and out[2].top_2gram_frac == 0.0
    assert out[4].n_2grams == 1 and out[4].top_2gram_frac == 1.0
    assert out[4].max_word_run == 2


def test_bm25_null_text_counts_toward_corpus_stats(spark):
    """ADVICE r06 low: NULL-text docs must survive into the corpus
    statistics (n_docs) — explode_outer keeps them as a (term=NULL) row
    so N matches the oracle's count(*) over ALL documents, while dl and
    every tf stay 0 for them.  Pinned by comparing scores against an
    explicit corpus where the NULL doc is replaced by an unmatchable
    token (same N, same tokens for the query terms -> different n_tokens
    only via the 1-token filler; so we assert N-sensitivity directly)."""
    from reddit_sse_stream_spark.operators import text as textops

    with_null = spark.createDataFrame(
        [(0, "vector join"), (1, "vector scan"), (2, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.bm25_topk(
        with_null, ["vector", "join"], k=10
    ).collect()}
    assert set(out) == {0, 1}  # NULL doc never scores
    # n_docs=3 (NULL doc counted): idf of 'vector' (df=2) is
    # floor((2*(3-2)+1)*1e4/(2*2+1)) = 6000, nonzero -> doc 1 scores > 0.
    # If the NULL doc were dropped (n_docs=2, df=2) the idf would be
    # floor((2*0+1)*1e4/5) = 2000; both nonzero, so pin the exact value
    # through doc 1 whose score is a single-term product.
    assert out[1].n_terms == 1
    drop_null = with_null.where(F.col("text").isNotNull())
    out2 = {r.doc_id: r for r in textops.bm25_topk(
        drop_null, ["vector", "join"], k=10
    ).collect()}
    # smaller N -> strictly smaller idf -> strictly smaller score
    assert out2[1].bm25 < out[1].bm25


def test_kmeans_derives_dim_from_data(spark):
    """kmeans_fixedpoint's centroid update must use the DATA's
    dimensionality: these 3-d vectors cluster exactly."""
    from reddit_sse_stream_spark.operators import corpus as corpusops

    rows = [
        (0, [0.0, 0.0, 10.0]), (1, [0.1, 0.0, 10.0]),
        (2, [5.0, 5.0, 0.0]), (3, [5.1, 5.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.cluster for r in corpusops.kmeans_fixedpoint(
        df, k=2, iters=2
    ).collect()}
    assert out[0] == out[1] and out[2] == out[3] and out[0] != out[2]


def test_bm25_ranks_multi_term_doc_first_and_is_exact(spark):
    from reddit_sse_stream_spark.operators import text as textops

    rows = [
        (0, "vector join stream vector join stream"),   # all 3 terms, twice
        (1, "vector vector vector scan scan scan"),      # 1 term, high tf
        (2, "join stream filter filter filter filter"),  # 2 terms
        (3, "scan filter sort merge batch window"),      # no query term
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.bm25_topk(df, ["vector", "join", "stream"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # zero-match docs never appear
    assert ids[0] == 0  # covers all three terms -> top
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n_terms"] == 3
    assert by_id[1]["n_terms"] == 1
    assert by_id[2]["n_terms"] == 2
    # exactness: same result under repartition (order-independent sums)
    out2 = textops.bm25_topk(
        df.repartition(7), ["vector", "join", "stream"], k=10
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_winnow_guarantee_shared_span_shares_fingerprint(spark):
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.operators import text as textops
    from reddit_sse_stream_spark.operators.dedup import md5_hash60

    # k=3, w=4: any shared span of >= k+w-1 = 6 words must share a
    # selected fingerprint between the two documents.
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"one two {shared} three four five six"),
        (1, f"{shared} seven eight nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    words = F.split(F.lower(F.col("text")), r"\s+")
    hashes = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 3),
        lambda i: md5_hash60(F.concat_ws(" ", F.slice("ws", i + 1, 3))),
    )
    # reproduce the selected sets via the operator's own building blocks:
    # assert on the SUMMARY xor/min/max being consistent with a recompute,
    # and on the guarantee via the exploded selection.
    from pyspark.sql import Window

    tok = df.select("doc_id", F.explode(F.array(words)).alias("ws"))
    grams = tok.select(
        "doc_id",
        (F.size("ws") - 2).alias("n_grams"),
        F.posexplode(hashes),
    ).select("doc_id", "n_grams", "pos", F.col("col").alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    sel = (
        grams.select(
            "doc_id", "pos", "n_grams", F.min(F.struct("h", "pos")).over(win).alias("m")
        )
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - 4, F.lit(0)))
        .select("doc_id", F.col("m.h").alias("h"))
        .distinct()
    )
    sets = {
        d: {r["h"] for r in sel.filter(F.col("doc_id") == d).collect()}
        for d in (0, 1)
    }
    assert sets[0] & sets[1], "shared 6-word span must share a fingerprint"
    # summary stats agree with the exploded selection
    summ = {
        r["doc_id"]: r
        for r in textops.winnow_fingerprint_stats(df, k=3, w=4).collect()
    }
    for d in (0, 1):
        xor = 0
        for h in sets[d]:
            xor ^= h
        assert summ[d]["n_fp"] == len(sets[d])
        assert summ[d]["fp_min"] == min(sets[d])
        assert summ[d]["fp_max"] == max(sets[d])
        assert summ[d]["fp_xor"] == xor


def test_winnow_gap_bound_and_short_doc(spark):
    from pyspark.sql import functions as F, Window

    from reddit_sse_stream_spark.operators import text as textops

    # 40 distinct words -> 38 grams; selected positions can be at most
    # w=4 apart (the winnowing density guarantee).
    text = " ".join(f"w{i:02d}" for i in range(40))
    df = spark.createDataFrame(
        [(0, text), (1, "just two"), (2, "exactly three words")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.winnow_fingerprint_stats(df).collect()}
    assert 1 not in out  # < k words -> no grams -> absent
    assert out[2]["n_fp"] == 1  # single gram, single fingerprint
    # density: selections cover the doc with bounded gaps -> at least
    # ceil((n_grams - w + 1) / w) distinct fingerprint positions
    assert out[0]["n_fp"] >= (38 - 4 + 1 + 3) // 4


def test_containment_flags_quote_that_jaccard_misses(spark):
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.plans.catalog import _md5_gram_frames

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"word{i}" for i in range(60))
    rows = [(0, quote), (1, f"{filler} {quote}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s, cand = _md5_gram_frames(df)
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")
            ).alias("cont_a_in_b"),
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .collect()
    )
    assert len(scored) == 1
    r = scored[0]
    # the short doc is fully contained, but symmetric jaccard is small
    assert r["cont_a_in_b"] == 1.0
    assert r["jaccard"] < 0.2


def test_tfidf_cosine_paraphrase_scores_high_word_order_ignored(spark):
    from reddit_sse_stream_spark.operators import text as textops

    # Same weighted vocabulary, totally different word order: TF-IDF
    # cosine must score ~1.0 even though 3-gram jaccard would be ~0.
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "theta eta zeta epsilon delta gamma beta alpha"
    rows = [(0, a), (1, b), (2, "unrelated words entirely different topic here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in textops.tfidf_cosine_pairs(df, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.999
    assert all(2 not in p for p in pairs)
    # determinism under repartition (decimal accumulation is exact)
    pairs2 = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in textops.tfidf_cosine_pairs(df.repartition(5), threshold=0.5).collect()
    }
    assert pairs == pairs2


def test_hybrid_rrf_fuses_both_arms(spark, sf_dir):
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    rows = QUERIES["search_hybrid_rrf"].spark(spark, sf_dir).collect()
    assert len(rows) == 10
    # fused score must be the exact fixed-point sum of its rank terms
    for r in rows:
        expect = 0
        if r["rank_bm25"] is not None:
            expect += 100000000 // (60 + r["rank_bm25"])
        if r["rank_knn"] is not None:
            expect += 100000000 // (60 + r["rank_knn"])
        assert r["rrf_fp"] == expect
    # descending by fused score, doc_id tiebreak
    keys = [(-r["rrf_fp"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    # at least one doc should be ranked by both arms at sf0.001
    assert any(
        r["rank_bm25"] is not None and r["rank_knn"] is not None for r in rows
    )


def test_release_local_checkpoints_reclaims_and_spares_cache(spark, sf_dir):
    """The between-queries release hook (SCALE.md execution-model rule)
    must (a) unpersist every locally-checkpointed RDD a finished query
    left behind — the 3-6x repeat-invocation degradation class — and
    (b) leave CacheManager-pinned frames untouched."""
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.plans.catalog import QUERIES
    from reddit_sse_stream_spark.session import release_local_checkpoints

    release_local_checkpoints(spark)  # start clean
    pinned = load_table(spark, sf_dir, "documents").limit(3).cache()
    assert pinned.count() == 3  # materialize the cached frame
    # run two checkpoint-heavy queries (gram frame + CC internals)
    for name in ("corpus_split_leakage_safe", "dedup_threshold_curve"):
        QUERIES[name].spark(spark, sf_dir).collect()
    released = release_local_checkpoints(spark)
    assert released >= 2, "expected finished checkpoints to be reclaimed"
    # nothing locally-checkpointed survives...
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().valuesIterator()
    leftover_ckpt = 0
    cached_alive = 0
    while it.hasNext():
        r = it.next()
        if r.isLocallyCheckpointed():
            leftover_ckpt += 1
        else:
            cached_alive += 1
    assert leftover_ckpt == 0
    # ...but the explicitly cached frame still answers from storage
    assert cached_alive >= 1
    assert pinned.count() == 3
    pinned.unpersist()


def test_pagerank_fixedpoint_matches_numpy(spark):
    """The fixed-point PageRank rounds must track the float power
    iteration closely (within fixed-point truncation) and rank a
    heavily-linked-to node above a source-only node."""
    import numpy as np

    rows = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 1)]
    df = spark.createDataFrame(rows, "src string, dst string, w long")
    got = {
        r["node"]: r["rank_fp"]
        for r in dedup.pagerank_fixedpoint(df, iters=3).collect()
    }
    nodes = ["a", "b", "c"]
    W = np.zeros((3, 3))
    for s, d, w in rows:
        W[nodes.index(d), nodes.index(s)] = w
    out = W.sum(axis=0)
    P = W / out  # column-stochastic
    r = np.full(3, 1 / 3)
    for _ in range(3):
        r = 0.15 / 3 + 0.85 * (P @ r)
    for i, n in enumerate(nodes):
        assert abs(got[n] / 1e12 - r[i]) < 1e-6, (n, got[n] / 1e12, r[i])
    # determinism under repartition
    got2 = {
        r["node"]: r["rank_fp"]
        for r in dedup.pagerank_fixedpoint(df.repartition(5), iters=3).collect()
    }
    assert got == got2


def test_novelty_first_owner_ordering(spark):
    """The first copy of duplicated content owns its grams; later copies
    score zero novelty; unique content scores 1."""
    from reddit_sse_stream_spark.operators import text as textops

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),       # first owner of its grams
            (2, "alpha beta gamma delta"),       # exact re-crawl -> 0
            (3, "wholly novel words entirely"),  # unique -> 1
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.novelty_first_owner(docs).collect()}
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    assert out[1].n_grams == 2  # two distinct trigrams in 4 words


def test_encoding_quality_flags_mojibake(spark):
    from reddit_sse_stream_spark.operators import text as textops

    docs = spark.createDataFrame(
        [
            (1, "clean ascii text"),
            (2, "bad �� decode \x01\x02"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.encoding_quality(docs).collect()}
    assert out[1].n_repl == 0 and out[1].n_ctrl == 0
    assert out[1].printable_frac == 1.0
    assert out[2].n_repl == 2 and out[2].n_ctrl == 2


def test_dsir_weights_prefer_target_like_docs(spark):
    """A document made of target-language-heavy tokens must outweigh one
    made of tokens that only ever appear outside the target slice."""
    from reddit_sse_stream_spark.operators import corpus as corpusops

    docs = spark.createDataFrame(
        [
            (1, "ler mon ler mon", "en"),
            (2, "ler mon ler mon", "fr"),   # same text, source-side copy
            (3, "zut zut zut zut", "fr"),   # tokens never in target
            (4, "ler mon zut zut", "fr"),   # mixed
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in corpusops.dsir_weights(docs).collect()}
    # same text => same weight regardless of own lang (the weight is about
    # the tokens' distributions, not the doc's label)
    assert out[1].dsir_weight_fp == out[2].dsir_weight_fp
    assert out[1].dsir_weight_fp > out[4].dsir_weight_fp > out[3].dsir_weight_fp


def test_weighted_sample_priority_is_weight_monotone_in_expectation(spark):
    """Determinism + the ES property's cheap proxy: the selected set is a
    pure function of the data, and zero-weight floors don't crash."""
    from reddit_sse_stream_spark.operators import corpus as corpusops

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i), (10 + i)) for i in range(100)],
        "doc_id long, text string, n_chars long",
    )
    a = [r.doc_id for r in corpusops.weighted_sample_priority(docs, k=10).collect()]
    b = [r.doc_id for r in corpusops.weighted_sample_priority(
        docs.repartition(7), k=10
    ).collect()]
    assert a == b  # partitioning-invariant deterministic sample
    assert len(a) == 10


def test_semdedup_restricts_pairs_to_cells(spark):
    """Every returned pair must be co-located in one IVF cell, and every
    within-cell pair above threshold must be returned (cell-exhaustive)."""
    from reddit_sse_stream_spark.operators.ml_lsh import ivf_train
    from reddit_sse_stream_spark.operators import similarity as simops

    import math
    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        base[(i % 4 + 1) % 8] = 0.3 + (i % 7) * 0.05
        rows.append((i, [float(x) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = simops.semdedup_cell_pairs(emb, threshold=0.5, n_cells=4, iters=1)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    cells = {r.vec_id: r.cell for r in ivf_train(
        emb, n_cells=4, iters=1
    ).assignments.collect()}
    assert got, "expected some within-cell pairs above threshold"
    for a, b in got:
        assert cells[a] == cells[b]


def test_pmi_ranks_exclusive_pair_above_independent(spark):
    """A pair that always co-occurs must out-score tokens that co-occur
    at independence rate; support threshold prunes rare accidents."""
    from reddit_sse_stream_spark.operators import text as textops

    rows = []
    # 10 docs with the exclusive collocation, 20 docs with independent fillers
    for i in range(10):
        rows.append((i, "new york filler%d" % (i % 3,)))
    for i in range(10, 30):
        rows.append((i, "alpha beta gamma delta"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.pmi_top_pairs(docs, k=10, min_support=5).collect()
    assert out, "expected pairs above support"
    top = out[0]
    assert (top.wa, top.wb) == ("new", "york")
    # exclusive pair: c_ab == c_a == c_b == 10, N = 30 -> pmi_fp = 30000
    assert top.pmi_fp == 30000
    # independent-ish fillers score N/c since c_ab==c_a==c_b too... they
    # also always co-occur within their block, but across MORE docs:
    # c=20 -> pmi_fp = floor(20*30*1e4/400) = 15000 < 30000
    by_pair = {(r.wa, r.wb): r.pmi_fp for r in out}
    assert by_pair[("alpha", "beta")] == 15000


def test_chunk_dedup_rewrite_keeps_first_occurrence(spark):
    from reddit_sse_stream_spark.operators import text as textops

    c16a = " ".join(f"a{i}" for i in range(16))
    c16b = " ".join(f"b{i}" for i in range(16))
    c16c = " ".join(f"c{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, c16a + " " + c16b),     # owns a-chunk and b-chunk
            (2, c16b + " " + c16c),     # b is a repeat -> only c survives
            (3, c16a),                  # fully boilerplate -> empty rewrite
            (4, "short tail only"),     # no full chunk -> n_chunks=0 row
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.chunk_dedup_rewrite(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].n_kept == 2 and out[1].text_dedup == c16a + " " + c16b
    assert out[2].n_kept == 1 and out[2].text_dedup == c16c
    assert out[3].n_kept == 0 and out[3].text_dedup == ""
    # ADVICE r07: a doc shorter than chunk_words must NOT vanish from the
    # rewritten corpus — it comes back explicitly chunkless
    assert out[4].n_chunks == 0 and out[4].n_kept == 0
    assert out[4].text_dedup == ""


def test_hard_negatives_exclude_same_label_and_pick_max(spark):
    from reddit_sse_stream_spark.operators import similarity as simops

    # 2-d embeddings, two labels; anchor 0 (label 0) has a same-label
    # near-twin (1) that must be SKIPPED and a cross-label vector (2)
    # that must win over a farther cross-label vector (3).
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.01], 0),   # same label: never a negative
        (2, [0.9, 0.1], 1),      # hardest cross-label negative for 0
        (3, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.id_a: r for r in simops.hard_negative_mining(emb, n_planes=1).collect()}
    # n_planes=1 -> at most 2 buckets; all these vectors have positive dot
    # with the first LCG plane or not — regardless, anchor 0's negative,
    # when present, must be cross-label
    for r in out.values():
        assert r.label_a != r.label_b
    if 0 in out:
        assert out[0].id_b in (2, 3)


def test_bpe_train_merges_learns_expected_fusions(spark):
    """Hand-checkable corpus: 'aa' dominates, so round 1 fuses (a,a);
    greedy left-to-right fuse on 'aaaa' then leaves 'aa'+'aa' (one pair
    of the MERGED symbol), and round 2 fuses the next-best pair."""
    from reddit_sse_stream_spark.operators import text as textops

    docs = spark.createDataFrame(
        # 'aaaa' x3 and 'ab' x2: pairs r1: (a,a) = 3 words * 3 adjacent = 9
        # > (a,b) = 2 -> merge (a,a)
        [(1, "aaaa aaaa aaaa ab ab")],
        "doc_id long, text string",
    )
    out = textops.bpe_train_merges(docs, rounds=2).collect()
    r1 = next(r for r in out if r["round"] == 1)
    assert (r1.pair_left, r1.pair_right, r1.merged, r1.cnt) == ("a", "a", "aa", 9)
    r2 = next(r for r in out if r["round"] == 2)
    # after fusing: 'aaaa' -> '<aa><aa>' (pair (aa,aa) x3), 'ab' stays
    # '<a><b>' (x2) -> round 2 merges (aa,aa)
    assert (r2.pair_left, r2.pair_right, r2.cnt) == ("aa", "aa", 3)


def test_minhash_twin_containment_on_borderline_jaccard_corpus(spark):
    """The r07 driver row dedup_minhash_twin_containment asserts
    twin \\ fast == 0.  Its risk zone is borderline pairs (J barely over
    the 0.8 threshold), where the twin's weak 8-hash/4-band sketch may
    legitimately miss pairs — the invariant direction must still hold
    because the fast 64-hash/16-band side misses with probability ~2e-4
    at J=0.8.  Deterministic by construction (hash families are pure
    functions of the data), so this is a pinned result, not a flake."""
    import random

    from reddit_sse_stream_spark.operators import dedup

    rng = random.Random(607)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for p in range(30):
        # two docs sharing most 5-shingles: 40 common words + small tails
        common = [rng.choice(vocab) for _ in range(40)]
        ta = common + [f"xa{p}"]
        tb = common + [f"xb{p}"]
        rows.append((2 * p, " ".join(ta)))
        rows.append((2 * p + 1, " ".join(tb)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        (r.doc_a, r.doc_b)
        for r in dedup.near_dup_pairs(docs, threshold=0.8).collect()
    }
    twin = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_md5_near_dups(docs).collect()
    }
    assert twin, "borderline corpus must produce twin pairs"
    assert twin <= fast, f"fast path missed twin pairs: {sorted(twin - fast)[:5]}"


def test_batch_lineage_inverts_the_loader_schedule(spark, sf_dir):
    """batch_lineage must be the exact inverse of the loader schedule over
    shard_assignments: every (shard, pos) row whose arithmetic step falls
    in the window appears in exactly one step's membership, each step's
    docs all come from its own shard's batch, n_docs <= batch_size, and
    the whole thing is partitioning-invariant (it is pure arithmetic on a
    deterministic shuffle)."""
    from reddit_sse_stream_spark.operators import corpus
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    lin = corpus.batch_lineage(docs, step_lo=16, step_hi=48).collect()
    sa = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in corpus.shard_assignments(docs, n_shards=16).collect()
    }
    seen = set()
    for r in lin:
        assert 16 <= r["step"] < 48
        assert r["step"] == r["batch_id"] * 16 + r["shard"]
        ids = [int(d) for d in r["doc_ids"].split(",")]
        assert r["n_docs"] == len(ids) <= 4
        assert ids == sorted(ids)
        for d in ids:
            shard, pos = sa[d]
            assert shard == r["shard"] and (pos - 1) // 4 == r["batch_id"]
            assert d not in seen
            seen.add(d)
    expected = {
        d for d, (shard, pos) in sa.items()
        if 16 <= ((pos - 1) // 4) * 16 + shard < 48
    }
    assert seen == expected
    again = corpus.batch_lineage(docs.repartition(7), step_lo=16, step_hi=48)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, lin))


def test_batch_lineage_fuzz_random_schedules(spark, sf_dir):
    """Randomized (n_shards, batch_size, window) configurations must all
    invert to exactly the membership a pure-Python replay of the loader
    schedule predicts from shard_assignments — the schedule arithmetic has
    no privileged default."""
    import random

    from reddit_sse_stream_spark.operators import corpus
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    rng = random.Random(707)
    for _ in range(4):
        n_shards = rng.choice([4, 8, 16])
        bs = rng.choice([2, 3, 5])
        lo = rng.randrange(0, 2 * n_shards)
        hi = lo + rng.randrange(1, 3 * n_shards)
        sa = corpus.shard_assignments(docs, n_shards=n_shards).collect()
        want: dict[int, list[int]] = {}
        for r in sa:
            step = ((r["pos"] - 1) // bs) * n_shards + r["shard"]
            if lo <= step < hi:
                want.setdefault(step, []).append(r["doc_id"])
        got = corpus.batch_lineage(
            docs, step_lo=lo, step_hi=hi, n_shards=n_shards, batch_size=bs
        ).collect()
        assert {r["step"] for r in got} == set(want)
        for r in got:
            assert [int(d) for d in r["doc_ids"].split(",")] == sorted(
                want[r["step"]]
            )


def test_bloom_fp_audit_invariants_both_hash_paths(spark, sf_dir):
    """The audit's accounting must be internally consistent on BOTH bucket
    hashes (xxhash64 fast path, md5 twin): no false negatives ever,
    partitions add up, exact-membership counts identical across hash
    choices (membership is digest-based, not bucket-based), and a 1-bucket
    filter degenerates to everything-maybe-known."""
    from reddit_sse_stream_spark.operators import dedup
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    rows = {}
    for md5b in (False, True):
        r = dedup.bloom_fp_audit(batch, corpus, md5_buckets=md5b).collect()[0]
        assert r["n_false_negatives"] == 0
        assert (
            r["n_definitely_new"] + r["n_false_positives"] + r["n_known"]
            == r["n_batch"]
        )
        rows[md5b] = r
    assert rows[False]["n_known"] == rows[True]["n_known"]
    assert rows[False]["n_batch"] == rows[True]["n_batch"]
    one = dedup.bloom_fp_audit(batch, corpus, n_buckets=1).collect()[0]
    assert one["n_definitely_new"] == 0
    assert one["n_false_negatives"] == 0


def test_source_minhash_matrix_exact_and_mergeability(spark):
    """Exact Jaccard column must be the true distinct-shingle Jaccard;
    identical sources must estimate 1.0 exactly (all signature slots
    agree); disjoint sources must estimate 0.0.  16 distinct 5-shingles
    per text keep the arithmetic hand-checkable."""
    from reddit_sse_stream_spark.operators import dedup as dedupops

    t1 = " ".join(f"w{i}" for i in range(20))       # shingles w0..w15
    t2 = " ".join(f"w{i}" for i in range(8, 28))    # shingles w8..w23
    t3 = " ".join(f"x{i}" for i in range(20))       # disjoint
    docs = spark.createDataFrame(
        [(1, t1, "sa"), (2, t2, "sb"), (3, t3, "sc"), (4, t1, "sd")],
        "doc_id long, text string, source string",
    )
    out = {
        (r.source_a, r.source_b): r
        for r in dedupops.source_minhash_matrix(docs).collect()
    }
    assert len(out) == 6  # all pairs of 4 sources
    ab = out[("sa", "sb")]
    # |inter| = 8 (w8..w15 starts), |union| = 24
    assert ab.n_union == 24
    assert abs(ab.exact_jaccard - (10000 * 8 // 24) / 10000.0) < 1e-9
    ad = out[("sa", "sd")]  # identical content -> identical sketch
    assert ad.est_jaccard == 1.0 and ad.exact_jaccard == 1.0
    ac = out[("sa", "sc")]
    assert ac.exact_jaccard == 0.0 and ac.est_jaccard == 0.0
    for r in out.values():
        assert 0.0 <= r.est_jaccard <= 1.0


def test_source_minhash_sampled_audit_configuration(spark):
    """The exact_sample_frac scale path (VERDICT r08 next #2): frac=1.0
    must reproduce the full audit bit-for-bit (same sampling predicate as
    frac<1 — none); a real fraction must (a) leave the sketch estimates
    untouched, (b) compute the sampled Jaccard on the h-range subset so
    identical sources still read 1.0 and disjoint ones 0.0, and (c) give
    0.0 (not null / div-by-zero) when the sample empties a pair's union.
    The merge invariant's split column is parameterizable (ADVICE r08)."""
    from reddit_sse_stream_spark.operators import dedup as dedupops

    t1 = " ".join(f"w{i}" for i in range(20))
    t2 = " ".join(f"w{i}" for i in range(8, 28))
    t3 = " ".join(f"x{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, t1, "sa"), (2, t2, "sb"), (3, t3, "sc"), (4, t1, "sd")],
        "doc_id long, text string, source string",
    )
    full = {
        (r.source_a, r.source_b): r
        for r in dedupops.source_minhash_matrix(docs).collect()
    }
    samp = {
        (r.source_a, r.source_b): r
        for r in dedupops.source_minhash_matrix(
            docs, exact_sample_frac=0.125
        ).collect()
    }
    assert set(samp) == set(full)
    for key, r in samp.items():
        assert r.est_jaccard == full[key].est_jaccard  # sketch untouched
        assert r.n_union <= full[key].n_union          # audit on a subset
        assert r.exact_jaccard is not None and 0.0 <= r.exact_jaccard <= 1.0
    # identical sources: every sampled hash is shared -> 1.0 unless the
    # sample emptied the union entirely (then the guard defines 0.0)
    ad = samp[("sa", "sd")]
    assert ad.exact_jaccard == (1.0 if ad.n_union > 0 else 0.0)
    ac = samp[("sa", "sc")]
    assert ac.exact_jaccard == 0.0  # disjoint stays disjoint on any subset
    # a frac so small nothing survives: the 0-union guard must hold
    empty = dedupops.source_minhash_matrix(
        docs, exact_sample_frac=0.0001
    ).collect()
    for r in empty:
        assert r.exact_jaccard == 0.0 or r.n_union > 0
    # split_col parameter (ADVICE r08): same invariant on a renamed id
    inv = dedupops.source_minhash_merge_invariant(
        docs.withColumnRenamed("doc_id", "row_id"), split_col="row_id"
    ).collect()[0]
    assert inv.n_mismatch == 0 and inv.n_sources == 4


def test_countmin_estimates_are_one_sided_and_exact_without_collisions(spark):
    """CMS guarantee: cms_est >= exact_cnt for every tracked key.  With
    3 keys in a 4x64 grid a cross-key collision in ALL FOUR rows is
    (essentially) impossible, so the estimates must be EXACT here; the
    validation guard must raise on nonpositive params."""
    import pytest as _pytest

    from reddit_sse_stream_spark.operators.sketches import (
        countmin_heavy_hitters,
    )

    rows = [(i, 100 + (i % 3)) for i in range(300)]
    events = spark.createDataFrame(rows, "event_id long, user_id long")
    out = {r.user_id: r for r in countmin_heavy_hitters(events).collect()}
    assert set(out) == {"100", "101", "102"}
    for uid, r in out.items():
        assert r.cms_est >= r.exact_cnt
        assert r.overcount == r.cms_est - r.exact_cnt
        assert r.cms_est == r.exact_cnt  # no 4-row full collision at n=3
    assert out["100"].exact_cnt == 100
    with _pytest.raises(ValueError, match="positive"):
        countmin_heavy_hitters(events, d=0)


def test_duplicate_spans_islands_and_extents(spark):
    """Hand-checkable span math: two docs share an 8-word block at
    different offsets; the run of shared 8-gram starts must merge into
    ONE maximal span per doc with inclusive word extents, a doc with no
    shared gram is absent, and within-doc repeats count as duplication."""
    from reddit_sse_stream_spark.operators import text as textops

    block = " ".join(f"b{i}" for i in range(10))  # 10 words -> 3 8-gram starts
    d1 = block + " u1 u2 u3 u4 u5 u6 u7 u8"       # block at pos 0..9
    d2 = "x1 x2 " + block                          # block at pos 2..11
    d3 = "z1 z2 z3 z4 z5 z6 z7 z8 z9"              # unique -> absent
    d4 = "r1 r2 r3 r4 r5 r6 r7 r8 " * 2            # self-repeat
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4.strip())],
        "doc_id long, text string",
    )
    out = {}
    for r in textops.duplicate_spans(docs).collect():
        out.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_grams)
        )
    assert 3 not in out
    # d1: shared 8-gram starts at 0,1,2 -> one span [0, 2+7] with 3 grams
    assert out[1] == [(0, 9, 3)]
    # d2: same starts shifted by 2 -> [2, 11]
    assert out[2] == [(2, 11, 3)]
    # d4: 'r1..r8 r1..r8' (16 words): start 0 and start 8 give the same
    # 8-gram -> duplicated; starts 1..7 are unique rotations -> two
    # single-gram islands
    assert sorted(out[4]) == [(0, 7, 1), (8, 15, 1)]


def test_suffix_ranks_prefix_doubling_hand_example(spark):
    """Hand-checkable suffix-array ranks: duplicated tails share a rank,
    a shorter prefix-suffix ranks below its extensions, and ranks are
    dense over the distinct-suffix domain.  One doc longer than the h=8
    seed forces at least one doubling round, so the recurrence (not just
    the seed rank) is exercised."""
    from reddit_sse_stream_spark.operators.text import suffix_ranks

    long1 = " ".join(f"w{i % 7}" for i in range(20))  # > 8 words, repeats
    docs = spark.createDataFrame(
        [(1, "b a c"), (2, "a c"), (3, "b a c"), (4, "a"), (5, long1)],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.pos): r.suffix_rank for r in suffix_ranks(docs).collect()}
    assert len(out) == 3 + 2 + 3 + 1 + 20
    # duplicated tails share ranks
    assert out[(1, 0)] == out[(3, 0)]          # "b a c"
    assert out[(1, 1)] == out[(2, 0)] == out[(3, 1)]  # "a c"
    assert out[(1, 2)] == out[(2, 1)] == out[(3, 2)]  # "c"
    # shorter prefix-suffix sorts first: "a" < "a c"
    assert out[(4, 0)] < out[(1, 1)]
    # dense over distinct suffixes
    ranks = sorted(set(out.values()))
    assert ranks == list(range(1, len(ranks) + 1))
    # python reference: rank by sorted distinct word-tuple suffixes
    texts = {1: "b a c", 2: "a c", 3: "b a c", 4: "a", 5: long1}
    sufs = {
        (d, p): tuple(t.lower().split()[p:])
        for d, t in texts.items()
        for p in range(len(t.split()))
    }
    order = {s: i + 1 for i, s in enumerate(sorted(set(sufs.values())))}
    assert out == {k: order[v] for k, v in sufs.items()}


def test_longest_repeat_is_adjacent_pair_lcp(spark):
    """The classic suffix-array reduction, pinned by hand: a 4-word block
    shared between two docs at different offsets must surface as the top
    repeat with the right (doc, pos) witnesses, its sub-suffixes follow
    with decreasing LCP, and a doc sharing nothing contributes no row."""
    from reddit_sse_stream_spark.operators.text import longest_repeat

    docs = spark.createDataFrame(
        [(1, "x y z q r s"), (2, "a b x y z q w"), (3, "k l m")],
        "doc_id long, text string",
    )
    rows = longest_repeat(docs, top=10).collect()
    assert rows[0].lcp_words == 4  # "x y z q"
    assert (rows[0].doc_a, rows[0].pos_a, rows[0].doc_b, rows[0].pos_b) == (1, 0, 2, 2)
    lcps = [r.lcp_words for r in rows]
    assert lcps == sorted(lcps, reverse=True)
    assert all(r.lcp_words > 0 for r in rows)
    assert not any(3 in (r.doc_a, r.doc_b) for r in rows)
    # identical docs: the repeat is the full doc
    dup = spark.createDataFrame(
        [(1, "p q r"), (2, "p q r")], "doc_id long, text string"
    )
    top = longest_repeat(dup, top=1).collect()[0]
    assert top.lcp_words == 3 and {top.doc_a, top.doc_b} == {1, 2}


def test_global_dense_rank_matches_single_partition_window(spark):
    """The two-phase rank must equal the definitional single-partition
    dense_rank on a multi-column key with heavy ties, regardless of where
    the range sampler draws boundaries; ranks are dense 1..n_distinct."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from reddit_sse_stream_spark.operators.corpus import global_dense_rank

    df = spark.range(0, 5000).select(
        (F.col("id") % 83).alias("a"), (F.col("id") % 7).alias("b"), "id"
    )
    two = {
        (r.id, r.rank)
        for r in global_dense_rank(df, "a", "b", n_parts=16)
        .select("id", "rank")
        .collect()
    }
    one = {
        (r.id, r.rank)
        for r in df.select(
            "id",
            F.dense_rank().over(Window.orderBy("a", "b")).cast("long").alias("rank"),
        ).collect()
    }
    assert two == one
    ranks = sorted({r for _, r in two})
    assert ranks == list(range(1, len(ranks) + 1))


def test_decontam_embedding_cosine_broadcast_eval(spark, sf_dir):
    """The broadcast-eval GEMM decontam: a corpus vector equal to an eval
    vector must flag with cos_sim 1.0 and the LOWEST achieving eval id;
    an orthogonal one must not flag; an empty eval predicate raises."""
    import pytest as _pytest

    from reddit_sse_stream_spark.operators.similarity import (
        decontam_embedding_cosine,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # eval (id % 20 == 0)
        (20, [1.0, 0.0, 0.0, 0.0]),  # eval, duplicate direction of 0
        (1, [2.0, 0.0, 0.0, 0.0]),   # corpus: same direction -> flag, eval_id 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # corpus: orthogonal -> no flag
        (3, [1.0, 1.0, 0.0, 0.0]),   # corpus: cos ~= 0.7071 -> flag
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in decontam_embedding_cosine(
            emb, F.col("vec_id") % 20 == 0, threshold=0.4
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1].cos_sim == 1.0 and out[1].eval_id == 0  # lowest of {0, 20}
    assert abs(out[3].cos_sim - 0.7071) < 1e-9
    with _pytest.raises(ValueError, match="no rows"):
        decontam_embedding_cosine(emb, F.col("vec_id") < 0)


def test_global_ntile_matches_window_ntile_on_degenerate_sizes(spark):
    """Two-phase ntile == Spark's window ntile on the degenerate shapes
    the split arithmetic must get right: T < n (one row per bucket),
    T % n == 0 (uniform buckets), and a remainder case where the first
    rem buckets carry one extra row."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from reddit_sse_stream_spark.operators.corpus import global_ntile

    for total, n in ((5, 8), (16, 4), (10007, 8)):
        df = spark.range(0, total).select(
            (F.col("id") * 7919 % 10007).alias("k"), "id"
        )
        two = {
            (r.id, r.bin)
            for r in global_ntile(df, n, "k", "id", n_parts=8)
            .select("id", "bin")
            .collect()
        }
        one = {
            (r.id, r.bin)
            for r in df.select(
                "id",
                F.ntile(n).over(Window.orderBy("k", "id")).cast("long").alias("bin"),
            ).collect()
        }
        assert two == one, (total, n)


def test_text_and_decontam_ops_accept_string_ids(spark):
    """ADVICE r09: longest_repeat's kernel hardcoded int64 doc ids and
    _decontam_scan hardcoded vec_id/eval_id long columns despite both
    taking id_col — non-integer ids failed (or coerced) inside the
    kernels.  Output id columns now follow the input schema."""
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.operators.similarity import (
        decontam_embedding_cosine,
    )
    from reddit_sse_stream_spark.operators.text import longest_repeat

    docs = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "lorem ipsum the quick brown fox returns today"),
         ("c", "short")],
        "doc_id string, text string",
    )
    top = longest_repeat(docs, top=1).collect()
    assert [(r.doc_a, r.doc_b, r.lcp_words) for r in top] == [("a", "b", 4)]
    assert dict(longest_repeat(docs, top=1).dtypes)["doc_a"] == "string"
    emb = spark.createDataFrame(
        [(f"x{i}", [float(i == j) for j in range(4)]) for i in range(5)],
        "vec_id string, embedding array<double>",
    )
    d = decontam_embedding_cosine(emb, F.col("vec_id") == "x0", threshold=-1.0)
    assert dict(d.dtypes) == {
        "vec_id": "string", "eval_id": "string", "cos_sim": "double"
    }
    assert d.count() == 4 and all(r.eval_id == "x0" for r in d.collect())


def test_mattr_hand_example_and_short_doc_fallback(spark):
    """Hand-checkable MATTR: for window=3 over 'a b a c b' the windowed
    distinct counts are 2,3,3 -> 8/9 floored at 1e-4; a doc shorter than
    the window falls back to plain TTR with n_windows=0; an all-same-word
    stutter scores the minimum 1/window; NULL docs are dropped."""
    from reddit_sse_stream_spark.operators.text import mattr_lexical_diversity

    docs = spark.createDataFrame(
        [(1, "a b a c b"), (2, "a b"), (3, " ".join(["w"] * 30)), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in mattr_lexical_diversity(docs, window=3).collect()
    }
    assert set(out) == {1, 2, 3}
    import math

    assert out[1].n_windows == 3
    assert out[1].mattr == math.floor(8 / 9 * 10000) / 10000
    assert out[2].n_windows == 0 and out[2].mattr == 1.0  # TTR fallback
    assert out[3].mattr == math.floor(1 / 3 * 10000) / 10000  # stutter floor


def test_vocab_growth_hand_example(spark):
    """Heaps-curve checkpoints on a 4-doc corpus where first occurrences
    are placed by hand: vocab counts types whose FIRST doc is inside the
    prefix, tokens counts occurrences (not types), and the 100% row
    covers everything."""
    from reddit_sse_stream_spark.operators.text import vocab_growth

    docs = spark.createDataFrame(
        [
            (10, "a b a"),          # types a,b first seen at 10
            (20, "b c"),            # c first seen at 20
            (30, "c a d"),          # d first seen at 30
            (40, "e"),              # e first seen at 40
        ],
        "doc_id long, text string",
    )
    out = {r.pct: r for r in vocab_growth(docs, pcts=(25, 50, 100)).collect()}
    # max id 40 -> thresholds 10, 20, 40
    assert out[25].threshold_id == 10
    assert (out[25].vocab, out[25].tokens) == (2, 3)   # {a,b}; "a b a"
    assert (out[50].vocab, out[50].tokens) == (3, 5)   # +c; +"b c"
    assert (out[100].vocab, out[100].tokens) == (5, 9) # all types, all words


def test_ewma_features_hand_example(spark):
    """Hand-checkable bounded EWMA (depth=4 -> weights 8,4,2,1): a key
    with 3 events gets partial weight sums (8+4+2, newest first); a NULL
    value is excluded from both sums; a single-event key normalizes to
    its own value."""
    from reddit_sse_stream_spark.operators.timeseries import ewma_features

    rows = [
        (1, 1, 100, 2.0),
        (2, 1, 200, None),   # excluded from both sums
        (3, 1, 300, 4.0),
        (4, 2, 100, 5.0),
    ]
    import datetime

    events = spark.createDataFrame(
        [(i, k, datetime.datetime.fromtimestamp(s, datetime.timezone.utc), v)
         for i, k, s, v in rows],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {r.event_id: r for r in ewma_features(events, depth=4).collect()}
    # event 3 (newest for user 1): weights 8 (itself), 4 (event 2, NULL ->
    # skipped), 2 (event 1)
    assert out[3].weight_sum == 8 + 2
    assert out[3].ewma_num_fp == 8 * 4_000_000 + 2 * 2_000_000
    assert out[3].ewma_x1e4 == (8 * 4_000_000 + 2 * 2_000_000) * 10000 // 10
    # event 2 itself has NULL value: own weight skipped, history counted
    assert out[2].weight_sum == 4  # only event 1 at lag 1
    assert out[2].ewma_num_fp == 4 * 2_000_000
    # single-event key: ewma == own value
    assert out[4].weight_sum == 8
    assert out[4].ewma_x1e4 == 5_000_000 * 10000 // 1  # num*1e4/8 = v*1e4


def test_ewma_features_exact_int64_quotient(spark):
    """ADVICE r09 medium: ewma_x1e4 must be the TRUE big-int
    floor(num*1e4 / wsum), never the double-rounded neighbor.  Probe (a):
    16 events with values ~9881 (inside the documented ~1.4e4 domain
    bound) whose num*1e4 ~ 6.5e18 exceeds double precision — the old
    ``acc * 10000.0 / wsum`` path provably returns exact+1 here (the test
    asserts that divergence in Python first, so the probe can never rot
    into a vacuous pass).  Probe (b): negative values with a non-exact
    divisor pin floor-toward-negative-infinity (a plain ``div`` truncates
    toward zero; the pmod pre-subtraction is what makes it a floor)."""
    import datetime
    import math

    from reddit_sse_stream_spark.operators.timeseries import ewma_features

    vals = [9880.958946, 9881.290013, 9881.469925, 9881.789785,
            9881.246507, 9881.347358, 9881.674669, 9881.034503,
            9881.000351, 9880.879617, 9880.918269, 9881.442402,
            9881.013481, 9881.53585, 9881.709706, 9881.818051]
    vfp = [math.floor(v * 1e6 + 0.5) for v in vals]
    ws = (1 << 16) - 1
    # newest event is the last; i-th most recent gets weight 2^(15-i)
    num = sum(vfp[15 - i] * (1 << (15 - i)) for i in range(16))
    exact = (num * 10**4) // ws
    assert math.floor(num * 10000.0 / ws) != exact, (
        "probe values no longer exercise the double-rounding gap"
    )
    rows = [
        (i + 1, 1, datetime.datetime.fromtimestamp(
            100 + i, datetime.timezone.utc), v)
        for i, v in enumerate(vals)
    ]
    # probe (b): user 2, two events -> wsum 2^15+2^14, negative inexact
    rows += [
        (100, 2, datetime.datetime.fromtimestamp(
            100, datetime.timezone.utc), -1.0000001),
        (101, 2, datetime.datetime.fromtimestamp(
            101, datetime.timezone.utc), -2.3),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r.event_id: r for r in ewma_features(events, depth=16).collect()}
    assert out[16].ewma_num_fp == num and out[16].weight_sum == ws
    assert out[16].ewma_x1e4 == exact
    neg_num = (1 << 15) * math.floor(-2.3 * 1e6 + 0.5) + (
        1 << 14
    ) * math.floor(-1.0000001 * 1e6 + 0.5)
    assert out[101].ewma_x1e4 == (neg_num * 10**4) // (
        (1 << 15) + (1 << 14)
    )  # Python // floors toward -inf — the semantics being pinned


def test_doremi_reweight_invariants(spark, sf_dir):
    """Weights are a normalized training mix: floor-normalized x1e6
    weights sum to within n_domains of 1e6, every domain keeps a
    positive weight, and the boost is monotone in the OOV rate (the
    DoReMi direction: poorly-modeled domains gain share)."""
    from reddit_sse_stream_spark.operators.corpus import doremi_domain_reweight
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = doremi_domain_reweight(docs).collect()
    assert len(rows) == 20
    total = sum(r["weight_x1e6"] for r in rows)
    assert 1_000_000 - len(rows) <= total <= 1_000_000
    assert all(r["weight_x1e6"] > 0 for r in rows)
    assert all(
        r["boost_x1e6"]
        == 1_000_000 + (500_000 * r["n_oov"]) // r["n_bigrams"]
        for r in rows
        if r["n_bigrams"]
    )
    by_rate = sorted(
        (r for r in rows if r["n_bigrams"]),
        key=lambda r: r["n_oov"] / r["n_bigrams"],
    )
    boosts = [r["boost_x1e6"] for r in by_rate]
    assert boosts == sorted(boosts)


def test_quality_linear_probe_learns_the_label_direction(spark, sf_dir):
    """Three GD rounds on a separable-ish stand-in must move scores in
    the label direction: mean score of label-1 docs strictly above
    label-0 docs, and both labels present.  (Bit-exactness is the
    oracle row's job; this pins that the TRAINING actually trains.)"""
    from reddit_sse_stream_spark.operators.corpus import quality_linear_probe
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = quality_linear_probe(docs).collect()
    ones = [r["score_x1e6"] for r in rows if r["label"] == 1]
    zeros = [r["score_x1e6"] for r in rows if r["label"] == 0]
    assert ones and zeros
    assert sum(ones) / len(ones) > sum(zeros) / len(zeros)


def test_greedy_coverage_pick_invariants(spark, sf_dir):
    """Submodular greedy invariants: k distinct picks, marginal gains
    non-increasing (coverage is submodular, so the greedy sequence's
    gains are monotone), round numbers dense from 1, and round-1's pick
    is the doc with the most distinct 3-grams."""
    from reddit_sse_stream_spark.operators.corpus import greedy_coverage_pick
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = greedy_coverage_pick(docs, k=5).collect()
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["doc_id"] for r in rows}) == len(rows)
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    words = F.split(F.lower(F.col("text")), r"\s+")
    top = (
        docs.select("doc_id", F.explode(F.array(words)).alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.size(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("w") - 3),
                        lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)),
                    )
                )
            ).alias("n"),
        )
        .orderBy(F.col("n").desc(), F.col("doc_id"))
        .first()
    )
    assert rows[0]["doc_id"] == top["doc_id"]
    assert rows[0]["gain"] == top["n"]


def test_image_ahash_hand_examples_and_real_decode():
    """aHash kernel pinned by hand: a uniform raster has no bit above the
    global mean (n_ones = 0); a half-bright raster sets exactly the 32
    bright-half bits in the low word.  The pixel decoder must round-trip
    the encoder's generative formula byte for byte."""
    from reddit_sse_stream_spark.operators.multimodal import (
        _bmp_pix,
        _decode_bmp_pixels,
        _encode_bmp,
        ahash_from_pixels,
    )

    flat = [128] * (8 * 8 * 3)
    assert ahash_from_pixels(8, 8, flat) == (0, 0)
    half = [255] * (8 * 4 * 3) + [0] * (8 * 4 * 3)  # top 4 rows bright
    hi, lo = ahash_from_pixels(8, 8, half)
    assert hi == 0 and lo == (1 << 32) - 1  # idx 0..31 = v<4 rows
    m = 12  # an actual BMP-subset media id (12%3==0, (12//3)%3==1)
    w, h, rgb = _decode_bmp_pixels(_encode_bmp(m))
    assert (w, h) == (8 + m % 9, 8 + m % 7)
    assert rgb == [_bmp_pix(m, i) for i in range(w * h * 3)]
    # ADVICE r11: images smaller than the 8x8 grid leave cells empty —
    # empty cells count as mean 0, no ZeroDivisionError.  A 2x2 bright
    # raster fills cells (u,v) in {0,4}x{0,4}; those 4 means (255) beat
    # the global sum 1020 only when 64*255 > 1020 -> all 4 bits set.
    hi, lo = ahash_from_pixels(2, 2, [255] * (2 * 2 * 3))
    assert bin(hi).count("1") + bin(lo).count("1") == 4
    assert ahash_from_pixels(1, 1, [0, 0, 0]) == (0, 0)


def test_image_ahash_skips_malformed_payloads(spark):
    """ADVICE r11 admission-gate policy: a corrupt container (bad BMP
    header, truncated PNG) is skipped like an unknown magic — the
    batch survives and hashes the valid rows."""
    from reddit_sse_stream_spark.operators.multimodal import (
        PNG_MAGIC,
        _encode_bmp,
        image_ahash,
    )

    good = _encode_bmp(12)
    rows = [
        (1, "image", bytearray(good)),
        (2, "image", bytearray(b"BM\x00\x01trunc")),          # bad BMP
        (3, "image", bytearray(PNG_MAGIC + b"\x00" * 4)),     # bad PNG
        (4, "image", bytearray(b"\xff\xd8\xff\xe0corrupt")),  # bad JPEG
        (5, "image", bytearray(b"??unknown-magic")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    got = image_ahash(media).collect()
    assert [r["media_id"] for r in got] == [1]


def test_audio_fingerprint_hand_examples_and_real_decode():
    """Fingerprint kernel pinned by hand: a constant waveform sets no
    bit (every window mean equals the global mean); a loud-first-half
    clip sets exactly the first 32 window bits.  The sample decoder
    must round-trip the encoder's generative waveform exactly."""
    from reddit_sse_stream_spark.operators.multimodal import (
        _decode_wav_samples,
        _encode_wav,
        _wav_n_samples,
        _wav_sample,
        fingerprint_from_samples,
    )

    assert fingerprint_from_samples([1000] * 128) == (0, 0)
    loud = [20000] * 64 + [0] * 64
    hi, lo = fingerprint_from_samples(loud)
    assert lo == (1 << 32) - 1 and hi == 0
    m = 13  # an audio media id (13 % 3 == 1)
    samples = _decode_wav_samples(_encode_wav(m))
    assert len(samples) == _wav_n_samples(m)
    assert samples == [_wav_sample(m, i) for i in range(len(samples))]


def test_video_scene_cuts_identical_frames_score_zero():
    """A clip whose adjacent frames are identical has sad = 0 and no
    cut; the real AVI decode must reproduce the generative gray
    planes."""
    from reddit_sse_stream_spark.operators.multimodal import (
        AVI_FRAME_H,
        AVI_FRAME_W,
        _avi_pix,
        _decode_avi_gray_frames,
        _encode_avi,
    )

    m = 14  # a video media id (14 % 3 == 2)
    w, h, planes = _decode_avi_gray_frames(_encode_avi(m))
    assert (w, h) == (AVI_FRAME_W, AVI_FRAME_H)
    for f, plane in enumerate(planes):
        want = [
            (
                _avi_pix(m, f * w * h * 3 + j * 3)
                + _avi_pix(m, f * w * h * 3 + j * 3 + 1)
                + _avi_pix(m, f * w * h * 3 + j * 3 + 2)
            )
            // 3
            for j in range(w * h)
        ]
        assert plane == want
    # identical adjacent planes => sad 0 (kernel-level check)
    sad = sum(abs(a - b) for a, b in zip(planes[0], planes[0]))
    assert sad == 0


def test_silence_segments_hand_examples():
    """Run-length fold pinned by hand: a constant waveform has no window
    below 7/8 of the mean (all equal); alternating loud/quiet quarters
    produce exactly the quiet-quarter runs."""
    from reddit_sse_stream_spark.operators.multimodal import (
        silence_segments_from_samples,
    )

    assert silence_segments_from_samples([1000] * 128) == (0, 0, 0)
    # 4 quarters: loud, quiet, loud, quiet -> 32 silent windows in 2 runs
    quarters = [20000] * 32 + [0] * 32 + [20000] * 32 + [0] * 32
    assert silence_segments_from_samples(quarters) == (32, 2, 16)
    # single trailing quiet half -> one run of 32
    half = [20000] * 64 + [0] * 64
    assert silence_segments_from_samples(half) == (32, 1, 32)


def test_token_budget_waterfill_matches_bruteforce(spark):
    """The closed-form bracket level must equal the brute-force
    "largest t with sum(min(cap, t)) <= B" on adversarial capacity
    sets (duplicates, one dominant source, k=1)."""
    from reddit_sse_stream_spark.operators.corpus import (
        token_budget_waterfill,
    )

    cases = [
        [5, 5, 5, 5],            # all duplicates
        [1, 1, 1, 1000],         # dominant source
        [7],                     # single source
        [3, 9, 9, 27, 81],       # geometric with a tie
    ]
    for caps in cases:
        rows = [
            (f"s{i:02d}", " ".join(["w"] * c)) for i, c in enumerate(caps)
        ]
        docs = spark.createDataFrame(rows, "source string, text string")
        got = {
            r["source"]: r
            for r in token_budget_waterfill(docs.withColumn(
                "doc_id", F.monotonically_increasing_id()
            )).collect()
        }
        total = sum(caps)
        budget = total // 2
        t = 0
        while sum(min(c, t + 1) for c in caps) <= budget:
            t += 1
        for i, c in enumerate(caps):
            r = got[f"s{i:02d}"]
            assert r["cap_tokens"] == c
            assert r["alloc_tokens"] == min(c, t), (caps, t, dict(r.asDict()))
            assert r["water_level"] == t
            assert r["budget"] == budget


def test_equidepth_approx_contract_holds_on_adversarial_frames(spark):
    """The contract columns must be 1 on shapes chosen to break naive
    equi-depth logic: all-identical values (every cutpoint duplicated),
    two-point masses, and a frame smaller than k."""
    from reddit_sse_stream_spark.operators.sketches import (
        equidepth_approx_bins,
    )

    frames = [
        [(5.0,)] * 100,                      # one giant tie block
        [(1.0,)] * 90 + [(9.0,)] * 10,       # two-point mass
        [(float(i),) for i in range(3)],     # n < k
        [(float(i % 7),) for i in range(200)],  # small discrete domain
    ]
    for rows in frames:
        df = spark.createDataFrame(rows, "v double")
        out = equidepth_approx_bins(df, "v", k=8).collect()
        assert [r["bin"] for r in out] == list(range(1, 9))
        assert all(r["boundary_rank_ok"] == 1 for r in out), rows[:3]
        assert all(r["partition_complete"] == 1 for r in out), rows[:3]
        assert all(r["n_total"] == len(rows) for r in out)


def test_equidepth_approx_contract_empty_input(spark):
    """Zero input rows (e.g. an SF with no funnel converters) must emit
    n_total=0 and vacuously-true contract flags — matching the oracle's
    literal 0/1s — not NULLs from first()/sum() over an empty frame
    (ADVICE r13)."""
    from reddit_sse_stream_spark.operators.sketches import (
        equidepth_approx_bins,
    )

    df = spark.createDataFrame([], "v double")
    out = equidepth_approx_bins(df, "v", k=4).collect()
    assert [r["bin"] for r in out] == [1, 2, 3, 4]
    assert all(r["n_total"] == 0 for r in out)
    assert all(r["boundary_rank_ok"] == 1 for r in out)
    assert all(r["partition_complete"] == 1 for r in out)


def test_gini_bounds_on_synthetic_distributions(spark):
    """Rank-identity Gini sanity: a perfectly uniform group distribution
    scores exactly 0; an extreme one approaches (k-1)/k."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES
    import tempfile, os

    def run(counts):
        rows = []
        i = 0
        for g, c in enumerate(counts):
            for _ in range(c):
                rows.append((i, f"g{g}", f"s{g}", "w"))
                i += 1
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(
                os.path.join(d, "documents.parquet")
            )
            # corpus_lang_gini only loads the documents table
            out = QUERIES["corpus_lang_gini"].spark(spark, d).collect()
        return {r["dim"]: r["gini_x1e4"] for r in out}

    assert run([10, 10, 10, 10])["lang"] == 0
    extreme = run([1, 1, 1, 97])["lang"]
    assert 6000 <= extreme <= 7500  # k=4 -> max (k-1)/k = 0.75


# --------------------------------------------------------------------------- #
# r12 evaluation/data-quality audits: independent Python recomputation pins   #
# --------------------------------------------------------------------------- #


def test_gate_agreement_kappa_matches_direct_recompute(spark, sf_dir):
    """Recompute Cohen's kappa per lang from the two gates' DOC-LEVEL
    flags with plain Python (the textbook po/pe formula on floats) and
    pin the catalog row's integer-identity kappa to it — an independent
    derivation, not the row's own algebra."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    g1 = {
        r["doc_id"]: int(r["keep"])
        for r in QUERIES["text_gopher_gate"].spark(spark, sf_dir).collect()
    }
    kept2 = {
        r["doc_id"]
        for r in QUERIES["corpus_quality_quantile_gate"]
        .spark(spark, sf_dir)
        .collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_lang: dict = {}
    for r in docs:
        k1 = g1[r["doc_id"]]
        k2 = 1 if r["doc_id"] in kept2 else 0
        cell = by_lang.setdefault(r["lang"], [0, 0, 0, 0])  # a b c d
        cell[(1 - k1) * 2 + (1 - k2)] += 1
    out = {
        r["lang"]: r
        for r in QUERIES["dq_gate_agreement_kappa"].spark(spark, sf_dir).collect()
    }
    assert set(out) == set(by_lang)
    for lang, (a, b, c, d) in by_lang.items():
        row = out[lang]
        assert (row["both_keep"], row["gopher_only"], row["quantile_only"],
                row["both_drop"]) == (a, b, c, d)
        n = a + b + c + d
        po = (a + d) / n
        pe = ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)
        expect = 0.0 if pe == 1.0 else (po - pe) / (1 - pe)
        assert abs(row["kappa"] - expect) < 1e-9, lang
        assert -1.0 - 1e-9 <= row["kappa"] <= 1.0 + 1e-9


def test_k_anonymity_matches_direct_recompute(spark, sf_dir):
    """Pin dq_k_anonymity to a plain-pandas recount of quasi-identifier
    group sizes."""
    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    sizes = ev.groupby(
        [ev["event_type"], ev["ts"].dt.floor("h")]
    ).size()
    out = QUERIES["dq_k_anonymity"].spark(spark, sf_dir).collect()
    assert [r["k"] for r in out] == [2, 3, 5, 10]
    for r in out:
        below = sizes[sizes < r["k"]]
        assert r["n_groups"] == len(sizes)
        assert r["n_rows"] == int(sizes.sum())
        assert r["n_groups_below"] == len(below)
        assert r["n_rows_below"] == int(below.sum())
        assert r["frac_rows_below"] == (int(below.sum()) * 10000 // int(sizes.sum())) / 10000.0


def test_mad_outlier_gate_matches_direct_recompute(spark, sf_dir):
    """Pin dq_mad_outlier_gate's per-source (median, MAD, outliers) to a
    direct sorted-list recomputation of the DISCRETE lower median."""
    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    def lower_median(vals):
        s = sorted(vals)
        # smallest v whose cumulative count reaches half: index ceil(n/2)-1
        return s[(len(s) + 1) // 2 - 1]

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    out = {r["source"]: r for r in QUERIES["dq_mad_outlier_gate"].spark(spark, sf_dir).collect()}
    assert set(out) == set(docs["source"].unique())
    for src, grp in docs.groupby("source"):
        vals = grp["n_chars"].tolist()
        med = lower_median(vals)
        mad = lower_median([abs(v - med) for v in vals])
        n_out = sum(1 for v in vals if abs(v - med) > 3 * mad)
        row = out[src]
        assert row["n_docs"] == len(vals)
        assert row["median_chars"] == med, src
        assert row["mad_chars"] == mad, src
        assert row["n_outliers"] == n_out, src


def test_probe_calibration_bins_partition_and_consistency(spark, sf_dir):
    """Calibration bins partition the scored docs exactly once; per-bin
    stats recompute from the probe row's own output."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    probe = QUERIES["corpus_quality_linear_probe"].spark(spark, sf_dir).collect()
    mn = min(r["score_x1e6"] for r in probe)
    mx = max(r["score_x1e6"] for r in probe)
    bins: dict = {}
    for r in probe:
        b = (r["score_x1e6"] - mn) * 10 // (mx - mn + 1)
        st = bins.setdefault(b, [0, 0, 0, 0])  # n, pos, ssum, sesum
        st[0] += 1
        st[1] += r["label"]
        st[2] += r["score_x1e6"]
        se = r["score_x1e6"] - r["label"] * 1000000
        st[3] += se * se
    out = QUERIES["corpus_probe_calibration_bins"].spark(spark, sf_dir).collect()
    assert {r["bin"] for r in out} == set(bins)
    assert sum(r["n_docs"] for r in out) == len(probe)
    for r in out:
        n, pos, ssum, sesum = bins[r["bin"]]
        assert r["n_docs"] == n and r["n_pos"] == pos
        assert r["mean_score_x1e6"] == ssum // n  # python // floors, matches
        assert r["brier_mean_x1e12"] == sesum // n
        assert r["pos_rate"] == (pos * 10000 // n) / 10000.0


def test_ivf_nprobe_curve_monotone_with_exact_endpoint(spark, sf_dir):
    """The tuning curve's defining invariants, independent of the oracle:
    probing more cells never scans fewer candidates and never loses
    recall, and probing ALL cells is exact (recall 1.0, full scan)."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = sorted(
        QUERIES["knn_ivf_nprobe_recall_curve"].spark(spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in out] == [1, 2, 4, 8]
    for a, b in zip(out, out[1:]):
        assert a["scanned"] <= b["scanned"]
        assert a["hits"] <= b["hits"]
    full = out[-1]
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert full["scanned"] == full["n_queries"] * (n - 1)
    assert full["recall_at_k"] == 1.0 and full["scanned_frac"] == 1.0


def test_l_diversity_matches_direct_recompute(spark, sf_dir):
    """Pin dq_l_diversity to a plain-pandas recount: released groups
    (size >= 5) whose distinct-user count falls below each l."""
    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    g = ev.groupby([ev["event_type"], ev["ts"].dt.floor("h")]).agg(
        c=("event_id", "size"), l_div=("user_id", "nunique")
    )
    rel = g[g["c"] >= 5]
    out = QUERIES["dq_l_diversity"].spark(spark, sf_dir).collect()
    assert [r["l"] for r in out] == [2, 3, 5]
    for r in out:
        below = rel[rel["l_div"] < r["l"]]
        assert r["n_groups_released"] == len(rel)
        assert r["n_rows_released"] == int(rel["c"].sum())
        assert r["n_groups_below"] == len(below)
        assert r["n_rows_below"] == int(below["c"].sum())


def test_ndcg_curve_invariants(spark, sf_dir):
    """nDCG defining invariants, independent of the oracle: dcg never
    exceeds ideal dcg, both cumulatives are non-decreasing, ndcg in
    (0, 1], and the ideal prefix uses the corpus's best grades (rank-1
    ideal grade == corpus max relevance grade)."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = sorted(
        QUERIES["search_ndcg_curve"].spark(spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    assert [r["rnk"] for r in out] == list(range(1, 11))
    for r in out:
        assert 0 < r["ndcg_at_k"] <= 1.0
        assert r["dcg_x1e6"] <= r["idcg_x1e6"]
    for a, b in zip(out, out[1:]):
        assert a["dcg_x1e6"] <= b["dcg_x1e6"]
        assert a["idcg_x1e6"] <= b["idcg_x1e6"]


def test_bootstrap_ci_brackets_point_and_replica_weights_are_poisson1(spark, sf_dir):
    """The CI must bracket the point estimate, and the deterministic
    Poisson(1) weights must behave like Poisson(1): across all (doc, b)
    cells the mean weight sits near 1 (law of large numbers over 40 x
    n_docs hash draws — a wrong threshold table would shift every
    replica mean visibly)."""
    from reddit_sse_stream_spark.plans.catalog import (
        QUERIES,
        _poisson1_thresholds_x2e60,
    )

    row = QUERIES["dq_bootstrap_ci_mean"].spark(spark, sf_dir).collect()[0]
    assert row["ci_lo_x1e4"] <= row["point_mean_x1e4"] <= row["ci_hi_x1e4"]
    assert row["ci_lo_x1e4"] < row["ci_hi_x1e4"]
    # threshold table sanity: CDF values strictly increasing toward 2^60
    ts = _poisson1_thresholds_x2e60()
    assert ts == sorted(ts) and 0 < ts[0] < ts[-1] < 1 << 60
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    total, n = 0, 0
    for r in docs:
        for b in range(40):
            hv = int(
                hashlib.md5(f"boot:{r['doc_id']}:{b}".encode()).hexdigest()[:15], 16
            )
            total += sum(1 for t in ts if hv >= t)
            n += 1
    assert abs(total / n - 1.0) < 0.05  # mean Poisson(1) weight ~ 1


def test_vocab_coverage_curve_monotone_saturating(spark, sf_dir):
    """Defining invariants of the sizing curve: coverage is monotone in
    k, bounded by 1, and exactly 1.0 once k reaches the type count."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = sorted(
        QUERIES["vocab_size_coverage_curve"].spark(spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in out] == [64, 128, 256, 512]
    for r in out:
        assert 0 < r["topk_mass"] <= r["mass_total"]
    for a, b in zip(out, out[1:]):
        assert a["topk_mass"] <= b["topk_mass"]
    for r in out:
        if r["k"] >= r["n_types"]:
            assert r["coverage"] == 1.0 and r["topk_mass"] == r["mass_total"]


def test_binned_interval_overlap_matches_bruteforce_on_random_events(spark):
    """The binned equi-join's defining claim: it finds EXACTLY the pairs
    a brute-force nested loop over (session, burst) intervals finds —
    including touching intervals and intervals straddling bin
    boundaries.  Three seeded random event sets, full-chain replay
    (sessions, hour-burst islands, pairs, overlap sums) in plain
    Python."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    for seed in (0, 1, 2):
        rng = np.random.RandomState(seed)
        n = 400
        sec = np.sort(rng.randint(0, 3 * 86400, size=n)).astype("int64")
        ev = pd.DataFrame(
            {
                "event_id": np.arange(n, dtype="int64"),
                "ts": pd.to_datetime(sec, unit="s"),
                "user_id": rng.randint(0, 25, size=n).astype("int64"),
                "event_type": rng.choice(["a", "b", "c"], size=n),
            }
        )
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(ev).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(d, "events.parquet")
            )
            got = {
                r["event_type"]: (
                    r["n_bursts"], r["n_pairs"], r["n_sessions"],
                    r["overlap_us_total"],
                )
                for r in QUERIES["join_interval_binned_overlap"]
                .spark(spark, d)
                .collect()
            }
        us = sec * 1_000_000
        # sessions: per user, 30-min gaps on (ts, event_id) order
        sessions = []
        for u, grp in ev.assign(us=us).groupby("user_id"):
            grp = grp.sort_values(["us", "event_id"])
            cur = []
            prev = None
            for _, r in grp.iterrows():
                if prev is not None and r["us"] - prev > 1800 * 1_000_000:
                    sessions.append((u, min(cur), max(cur)))
                    cur = []
                cur.append(int(r["us"]))
                prev = int(r["us"])
            if cur:
                sessions.append((u, min(cur), max(cur)))
        # bursts: per type, hours with >= 7 events, consecutive merged
        bursts = []
        df = ev.assign(us=us, hidx=us // 3_600_000_000)
        for t, grp in df.groupby("event_type"):
            hs = grp.groupby("hidx").agg(c=("event_id", "size"),
                                         mn=("us", "min"), mx=("us", "max"))
            q = hs[hs["c"] >= 7].sort_index()
            run = []
            prev_h = None
            for h, r in q.iterrows():
                if prev_h is not None and h != prev_h + 1:
                    bursts.append((t, min(x[0] for x in run),
                                   max(x[1] for x in run)))
                    run = []
                run.append((int(r["mn"]), int(r["mx"])))
                prev_h = h
            if run:
                bursts.append((t, min(x[0] for x in run),
                               max(x[1] for x in run)))
        expect: dict = {}
        for t in {b[0] for b in bursts}:
            tb = [b for b in bursts if b[0] == t]
            pairs = [
                (s, b)
                for s in sessions
                for b in tb
                if s[1] <= b[2] and b[1] <= s[2]
            ]
            expect[t] = (
                len(tb),
                len(pairs),
                len({(s[0], s[1], s[2]) for s, _ in pairs}),
                sum(min(s[2], b[2]) - max(s[1], b[1]) for s, b in pairs),
            )
        assert got == expect, f"seed {seed}"


def test_neyman_allocation_sums_to_budget_and_isqrt_exact(spark, sf_dir):
    """Apportionment invariant: allocations sum EXACTLY to the budget
    (Hamilton's method never gains or loses a seat), each weight is the
    exact integer sqrt of its variance numerator, and the allocation is
    proportional-ish: the largest-weight stratum gets at least as many
    seats as the smallest."""
    import math

    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = QUERIES["sample_neyman_allocation"].spark(spark, sf_dir).collect()
    assert sum(r["alloc"] for r in out) == 100
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    for r in out:
        grp = docs[docs["source"] == r["source"]]["n_chars"]
        var_num = len(grp) * int((grp * grp).sum()) - int(grp.sum()) ** 2
        assert r["neyman_weight"] == math.isqrt(var_num), r["source"]
        assert r["alloc_capped"] <= r["n_docs"]
    hi = max(out, key=lambda r: r["neyman_weight"])
    lo = min(out, key=lambda r: r["neyman_weight"])
    assert hi["alloc"] >= lo["alloc"]


def test_signal_correlation_matrix_bounds_and_symmetric_recompute(spark, sf_dir):
    """Every correlation in [-1, 1]; numpy recomputation from the four
    signal frames matches to 1e-9 (independent float path)."""
    import numpy as np

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = QUERIES["dq_signal_correlation_matrix"].spark(spark, sf_dir).collect()
    assert len(out) == 6
    q = {r["doc_id"]: r["quality"] for r in QUERIES["text_quality_score"].spark(spark, sf_dir).collect()}
    g = {r["doc_id"]: r["keep"] for r in QUERIES["text_gopher_gate"].spark(spark, sf_dir).collect()}
    p = {r["doc_id"]: r["score_x1e6"] for r in QUERIES["corpus_quality_linear_probe"].spark(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["bits_sum"] * 256 // r["n_bigrams"] for r in QUERIES["text_bigram_lm_bits"].spark(spark, sf_dir).collect()}
    ids = sorted(set(q) & set(g) & set(p) & set(b))
    sig = {
        "quality": np.array([int(np.floor(q[i] * 10000 + 0.5)) for i in ids], dtype=float),
        "gopher_keep": np.array([g[i] for i in ids], dtype=float),
        "probe_score": np.array([p[i] for i in ids], dtype=float),
        "surprise_bin": np.array([b[i] for i in ids], dtype=float),
    }
    for r in out:
        assert -1.0 - 1e-12 <= r["corr"] <= 1.0 + 1e-12
        a, bb = sig[r["sig_a"]], sig[r["sig_b"]]
        expect = float(np.corrcoef(a, bb)[0, 1]) if a.std() and bb.std() else 0.0
        assert abs(r["corr"] - expect) < 1e-9, (r["sig_a"], r["sig_b"])


def test_entity_resolution_blocking_tradeoff(spark, sf_dir):
    """The ER audit's defining structure: mid-word corruptions keep one
    token intact so blocking finds candidates for ALL of them and
    resolves most correctly; space-drop corruptions fuse the tokens and
    blocking loses every one (n_with_candidates == 0) — the recall split
    that justifies multi-pass blocking in real linkage systems."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = {
        r["corruption"]: r
        for r in QUERIES["join_blocked_entity_resolution"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(out) == {"char_dropped", "space_dropped"}
    cd, sd = out["char_dropped"], out["space_dropped"]
    assert cd["n_with_candidates"] == cd["n_records"]  # one token always intact
    assert cd["n_correct"] > 0.9 * cd["n_records"]
    assert sd["n_with_candidates"] == 0 and sd["n_correct"] == 0
    n = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    assert cd["n_records"] + sd["n_records"] == n


def test_er_multipass_blocking_recovers_space_drops(spark, sf_dir):
    """The fix row must strictly dominate the single-pass row on the
    class single-pass loses: space-drop candidates go 0 -> most, correct
    resolutions follow, and the char-drop class is unchanged (the second
    pass adds candidates, never removes)."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    one = {
        r["corruption"]: r
        for r in QUERIES["join_blocked_entity_resolution"]
        .spark(spark, sf_dir)
        .collect()
    }
    multi = {
        r["corruption"]: r
        for r in QUERIES["join_er_multipass_blocking"].spark(spark, sf_dir).collect()
    }
    assert one["space_dropped"]["n_with_candidates"] == 0
    assert multi["space_dropped"]["n_with_candidates"] > 0.7 * multi[
        "space_dropped"
    ]["n_records"]
    assert multi["space_dropped"]["n_correct"] > 0
    assert multi["char_dropped"]["n_correct"] >= one["char_dropped"]["n_correct"]


def test_join_cardinality_estimate_exact_and_sane(spark, sf_dir):
    """exact_pairs must equal the direct sum of squared per-key counts;
    the sampled estimate must be positive and within a loose factor of
    truth (the estimator's variance is the thing the row reports — this
    pin only guards against scale/sampling bugs, not statistics)."""
    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    row = QUERIES["dq_join_cardinality_estimate"].spark(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    c = ev.groupby("user_id").size()
    assert row["exact_pairs"] == int((c * c).sum())
    assert row["n_rows"] == len(ev)
    assert 0 < row["n_sampled"] < len(ev)
    assert 0 < row["est_pairs"] < 10 * row["exact_pairs"]
    assert row["rel_err"] == abs(row["est_pairs"] - row["exact_pairs"]) * 10000 // row["exact_pairs"] / 10000.0


def test_erasure_propagation_base_clean_derived_leaks(spark, sf_dir):
    """The audit's two defining facts, recomputed directly: the base
    surface is fully clean after the anti-join (affected + remaining ==
    total, zero residual), while the derived feed retains SHARED
    pseudonym labels (residual > 0) because 'u'||user_id%50 collides
    across users — and the residual equals a direct recount of feed rows
    whose label belongs to an erased user."""
    import hashlib

    import pandas as pd

    from reddit_sse_stream_spark.plans.catalog import QUERIES

    out = {
        r["surface"]: r
        for r in QUERIES["dq_erasure_propagation"].spark(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    erased = {
        u
        for u in ev["user_id"].unique()
        if int(hashlib.md5(f"erase:{u}".encode()).hexdigest()[:15], 16) % 20 == 0
    }
    e = out["events"]
    assert e["n_total"] == len(ev)
    assert e["n_affected"] == int(ev["user_id"].isin(erased).sum())
    assert e["n_affected"] + e["n_after_erasure"] == e["n_total"]
    assert e["n_residual_label_rows"] == 0
    f = out["feed"]
    kept = ev[~ev["user_id"].isin(erased)]
    labels = {f"u{u % 50}" for u in erased}
    residual = int((("u" + (kept["user_id"] % 50).astype(str)).isin(labels)).sum())
    assert f["n_total"] == len(kept)
    assert f["n_residual_label_rows"] == residual
    # the shared-pseudonym leak fires whenever a kept user collides with
    # an erased label (guaranteed at sf0.01 where the driver gate runs;
    # the tiny sf0.001 cohort may not collide — equality above is the pin)
    if any(f"u{u % 50}" in labels for u in kept["user_id"].unique()):
        assert residual > 0
