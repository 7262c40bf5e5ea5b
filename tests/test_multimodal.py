"""Multimodal binary-column plumbing: schema, batching, stub behavior."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from jonesy_spark.caching import cache_scope
from jonesy_spark.catalog import Catalog
from jonesy_spark.multimodal.binary_ops import (
    attach_binary_payload,
    decode_stub,
    extract_features,
)


def test_binary_payload_schema(spark):
    docs = Catalog(spark, SF_DIR).documents
    payloads = attach_binary_payload(docs)
    schema = dict(payloads.dtypes)
    assert schema == {
        "doc_id": "bigint",
        "payload": "binary",
        "mime": "string",
        "byte_len": "bigint",
    }


def test_extract_features_deterministic(spark):
    docs = Catalog(spark, SF_DIR).documents.limit(20)
    feats = extract_features(attach_binary_payload(docs), fake=True)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == 20
    # Cross-check one row against a driver-side recomputation.
    src = docs.select("doc_id", "text").first()
    expected = [b / 255.0 for b in hashlib.md5(src["text"].encode()).digest()[:4]]
    got = rows[src["doc_id"]]["feature"]
    assert got == pytest.approx(expected, abs=1e-6)
    assert rows[src["doc_id"]]["byte_len"] == len(src["text"].encode())


def test_extract_features_real_decoder_stubbed(spark):
    docs = Catalog(spark, SF_DIR).documents.limit(1)
    feats = extract_features(attach_binary_payload(docs), fake=False)
    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        feats.collect()


def test_decode_stub_unit():
    with pytest.raises(NotImplementedError):
        decode_stub(b"abc", fake=False)
    assert decode_stub(b"abc", fake=True) == decode_stub(b"abc", fake=True)


def test_codec_dispatch_on_mime():
    """The real (fake=False) path dispatches on mime to whatever codec
    imports: with PIL present an image/* payload decodes to an 8x8
    grayscale feature vector; without it the call raises — in BOTH
    environments a non-image mime raises (no codec claims it)."""
    from jonesy_spark.multimodal import binary_ops as B

    with pytest.raises(NotImplementedError):
        decode_stub(b"abc", fake=False, mime="application/pdf")

    if B._PILImage is None:
        with pytest.raises(NotImplementedError):
            decode_stub(b"\x89PNG", fake=False, mime="image/png")
        with pytest.raises(NotImplementedError):
            B.resize_stub(b"\x89PNG", 8, fake=False, mime="image/png")
    else:  # pragma: no cover - PIL absent in this container
        import io

        buf = io.BytesIO()
        B._PILImage.new("RGB", (3, 5), (10, 200, 30)).save(buf, format="PNG")
        png = buf.getvalue()
        feat = decode_stub(png, fake=False, mime="image/png")
        assert len(feat) == 64 and all(0.0 <= x <= 1.0 for x in feat)
        assert feat == decode_stub(png, fake=False, mime="image/png")
        out = B.resize_stub(png, 4, fake=False, mime="image/png")
        assert B._PILImage.open(io.BytesIO(out)).size == (4, 4)


def test_sample_frames_fanout(spark):
    """Frame sampling yields bounded per-doc fan-out with deterministic
    frame hashes, and frames stay joinable on doc_id."""
    from jonesy_spark.multimodal.binary_ops import sample_frames

    docs = Catalog(spark, SF_DIR).documents.limit(10)
    frames = sample_frames(attach_binary_payload(docs), stride=64, max_frames=4)
    rows = frames.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    for frames_of_doc in per_doc.values():
        assert 1 <= len(frames_of_doc) <= 4
        assert [f["frame_idx"] for f in sorted(frames_of_doc, key=lambda f: f["frame_idx"])] == list(
            range(len(frames_of_doc))
        )
        for f in frames_of_doc:
            assert len(f["frame_hash"]) == 12
            assert len(bytes(f["frame_bytes"])) <= 64


def test_resize_stub_behavior():
    from jonesy_spark.multimodal.binary_ops import resize_stub

    with pytest.raises(NotImplementedError):
        resize_stub(b"abc", 8, fake=False)
    out = resize_stub(b"abcdef", 4, fake=True)
    assert out == b"abcd"
    assert resize_stub(b"ab", 4, fake=True) == b"ab\0\0"


def test_feature_join_back(spark):
    """Features join back to the source on doc_id (plumbing stays relational)."""
    docs = Catalog(spark, SF_DIR).documents.limit(50)
    feats = extract_features(attach_binary_payload(docs), fake=True)
    joined = docs.join(feats.select("doc_id", "feature", "decoder"), "doc_id")
    assert joined.count() == 50
    assert "feature" in joined.columns


def test_byte_dhash_locality():
    """The fake path is a real dHash over byte samples: flipping one
    byte flips at most 2 bits; unrelated payloads land far apart."""
    import random

    from jonesy_spark.multimodal.binary_ops import perceptual_hash

    rnd = random.Random(7)
    base = bytes(rnd.randrange(256) for _ in range(640))
    h0 = perceptual_hash(base, fake=True, mime="image/png")
    # flip one sampled byte -> at most 2 comparison bits change
    mutated = bytearray(base)
    mutated[320] = (mutated[320] + 128) % 256
    h1 = perceptual_hash(bytes(mutated), fake=True, mime="image/png")
    assert bin((h0 ^ h1) & ((1 << 64) - 1)).count("1") <= 2
    # determinism + int64 range
    assert h0 == perceptual_hash(base, fake=True, mime="image/png")
    assert -(1 << 63) <= h0 < (1 << 63)
    assert perceptual_hash(b"", fake=True, mime="x") == 0


def test_media_near_dup_pairs(spark):
    """End-to-end: corrupted copies pair with their originals at small
    hamming; unrelated payloads don't pair; the band join is lossless
    for hamming <= max_hamming (every planted near-dup is found)."""
    import random

    from jonesy_spark.multimodal.binary_ops import media_near_dup

    rnd = random.Random(13)
    rows = []
    for i in range(10):
        p = bytes(rnd.randrange(256) for _ in range(640))
        rows.append((i, bytearray(p)))
        # id 100+i: a lightly-corrupted copy (2 byte flips)
        c = bytearray(p)
        for off in (100, 500):
            c[off] = (c[off] + 97) % 256
        rows.append((100 + i, c))
    df = spark.createDataFrame(
        [(i, bytes(p), "image/png", len(p)) for i, p in rows],
        "doc_id long, payload binary, mime string, byte_len long",
    )
    pairs = {
        (r["doc_id"], r["dup_doc_id"]): r["hamming"]
        for r in media_near_dup(df, max_hamming=7).collect()
    }
    # every planted copy found, paired with its original
    for i in range(10):
        assert (i, 100 + i) in pairs, f"missing planted near-dup {i}"
        assert pairs[(i, 100 + i)] <= 4
    # no cross-pairs between unrelated originals
    assert not any(a < 100 and b < 100 for a, b in pairs)


def test_media_near_dup_rejects_bad_hamming(spark):
    import pytest

    from jonesy_spark.multimodal.binary_ops import media_near_dup

    df = spark.createDataFrame([], "doc_id long, payload binary, mime string, byte_len long")
    with pytest.raises(ValueError):
        media_near_dup(df, max_hamming=8)


# --- vendored PPM codec: real pixel decode without PIL (VERDICT r6 #3) ---


def test_ppm_roundtrip_and_p3():
    from jonesy_spark.multimodal import codecs as C

    rgb = [((13 * x + 5) % 256, (7 * y + 5) % 256, (x + y) % 256)
           for y in range(16) for x in range(16)]
    payload = C.encode_ppm(16, 16, rgb)
    assert payload.startswith(b"P6\n16 16\n255\n")
    w, h, px = C.decode_ppm(payload)
    assert (w, h) == (16, 16) and px == rgb

    # ASCII P3 with a header comment parses to the same pixels
    p3 = ("P3\n# a comment line\n2 2\n255\n"
          "1 2 3 4 5 6\n7 8 9 10 11 12\n").encode()
    assert C.decode_ppm(p3) == (
        2, 2, [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    )

    # a comment starting IMMEDIATELY after digits terminates the token
    # like whitespace ('2#c' then '2' is width 2, height 2 — not 22;
    # ADVICE r7), anywhere in the header including after maxval
    tricky = ("P3\n2#cols\n2\n255# maxval then raster\n"
              "1 2 3 4 5 6\n7 8 9 10 11 12\n").encode()
    assert C.decode_ppm(tricky) == (
        2, 2, [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    )


def test_ppm_malformed_payloads_raise():
    import pytest

    from jonesy_spark.multimodal import codecs as C

    with pytest.raises(ValueError, match="magic"):
        C.decode_ppm(b"JUNKDATA")
    with pytest.raises(ValueError, match="truncated P6"):
        C.decode_ppm(b"P6\n4 4\n255\n\x00\x01")
    with pytest.raises(ValueError, match="maxval"):
        C.decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="truncated PPM header"):
        C.decode_ppm(b"P6\n4")


def test_ppm_decode_stub_and_resize_route_through_vendored_codec():
    """fake=False now WORKS for PPM mimes in this PIL-less container:
    the codec seam runs real pixel bytes end to end."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    rgb = [(x * 16, y * 16, 128) for y in range(16) for x in range(16)]
    payload = C.encode_ppm(16, 16, rgb)
    feat = decode_stub(payload, fake=False, mime="image/x-portable-pixmap")
    assert len(feat) == 64 and all(0.0 <= v <= 1.0 for v in feat)
    # top-left thumbnail sample is pixel (0,0): luma of (0,0,128)
    assert feat[0] == ((299 * 0 + 587 * 0 + 114 * 128) // 1000) / 255.0
    # resize re-encodes a valid, smaller PPM
    small = B.resize_stub(payload, 4, fake=False, mime="image/x-portable-pixmap")
    w, h, px = C.decode_ppm(small)
    assert (w, h) == (4, 4) and px[0] == rgb[0]


def test_ppm_dhash_locality_on_real_images():
    """One brightened pixel flips few dHash bits; unrelated images
    differ in many — the property media_near_dup banding needs, now on
    REAL decoded pixels rather than byte-space samples."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    base = [((x * 7 + y * 3) % 256,) * 3 for y in range(16) for x in range(16)]
    tweaked = list(base)
    tweaked[40] = (255, 255, 255)
    unrelated = [((x * 31 + y * 17 + 97) % 256,) * 3
                 for y in range(16) for x in range(16)]
    mime = "image/x-portable-pixmap"
    h = lambda px: B.perceptual_hash(C.encode_ppm(16, 16, px), False, mime)
    d = lambda a, b: bin((h(a) ^ h(b)) & ((1 << 64) - 1)).count("1")
    assert d(base, base) == 0
    assert d(base, tweaked) <= 6
    assert d(base, unrelated) > 10


def test_media_near_dup_on_real_ppm_payloads(spark):
    """The banded near-dup operator over REAL decoded images: a
    brightened copy pairs with its original; an unrelated image
    doesn't."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    base = [((x * 7 + y * 3) % 256,) * 3 for y in range(16) for x in range(16)]
    tweaked = list(base)
    tweaked[40] = (255, 255, 255)
    unrelated = [((x * 31 + y * 17 + 97) % 256,) * 3
                 for y in range(16) for x in range(16)]
    rows = [
        (1, C.encode_ppm(16, 16, base)),
        (2, C.encode_ppm(16, 16, tweaked)),
        (3, C.encode_ppm(16, 16, unrelated)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").selectExpr(
        "doc_id", "payload", "'image/x-portable-pixmap' AS mime",
        "octet_length(payload) AS byte_len",
    )
    pairs = {
        (r["doc_id"], r["dup_doc_id"])
        for r in B.media_near_dup(df, max_hamming=6, fake=False).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_ppm_features_closed_form(spark):
    """ppm_features (the driver row's operator) equals the closed form
    of the fixture image for feature micro-units AND the dHash."""
    from jonesy_spark.multimodal import binary_ops as B

    docs = spark.createDataFrame([(0,), (7,), (123,)], "doc_id long")
    got = {
        r["doc_id"]: r
        for r in B.ppm_features(B.attach_ppm_payload(docs)).collect()
    }

    def closed_form(d):
        lum = lambda x, y: (
            299 * ((13 * x + d) % 256)
            + 587 * ((7 * y + d) % 256)
            + 114 * ((x + y) % 256)
        ) // 1000
        feat = [
            (2_000_000 * lum(2 * i, 2 * j) + 255) // 510
            for j in range(8)
            for i in range(8)
        ]
        raw = 0
        for r in range(8):
            for c in range(8):
                raw = (raw << 1) | (
                    1 if lum(((c + 1) * 16) // 9, 2 * r) > lum((c * 16) // 9, 2 * r)
                    else 0
                )
        return feat, (raw - (1 << 64) if raw >= (1 << 63) else raw)

    for d in (0, 7, 123):
        feat, ph = closed_form(d)
        assert list(got[d]["feature_micro"]) == feat
        assert got[d]["phash"] == ph
        assert (got[d]["width"], got[d]["height"]) == (16, 16)
        assert got[d]["decoder"] == "ppm"


# --- vendored WAV codec: real PCM decode (audio twin of the PPM work) ---


def test_wav_roundtrip_and_chunk_walking():
    import struct

    from jonesy_spark.multimodal import codecs as C

    samples = [((7 * i + 3) % 256) * 16 - 2048 for i in range(256)]
    payload = C.encode_wav(samples, sample_rate=16_000)
    rate, got = C.decode_wav(payload)
    assert rate == 16_000 and got == samples

    # an extra LIST chunk between fmt and data is skipped, not fatal
    head, data_chunk = payload[:36], payload[36:]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    rate2, got2 = C.decode_wav(head + extra + data_chunk)
    assert (rate2, got2) == (rate, samples)


def test_wav_malformed_payloads_raise():
    import struct

    import pytest

    from jonesy_spark.multimodal import codecs as C

    with pytest.raises(ValueError, match="RIFF"):
        C.decode_wav(b"NOTAWAVEFILE")
    good = C.encode_wav([0, 100, -100])
    with pytest.raises(ValueError, match="truncated"):
        C.decode_wav(good[:-2])
    # stereo rejected: this codec contracts PCM 16-bit mono
    stereo_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + stereo_fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="mono"):
        C.decode_wav(bad)


def test_wav_features_closed_form(spark):
    """wav_features (the audio driver row's operator) equals the closed
    form of the fixture clip for the loudness envelope AND the
    waveform dHash."""
    from jonesy_spark.multimodal import binary_ops as B

    docs = spark.createDataFrame([(0,), (5,), (250,)], "doc_id long")
    got = {
        r["doc_id"]: r
        for r in B.wav_features(B.attach_wav_payload(docs)).collect()
    }
    for d in (0, 5, 250):
        s = lambda i: ((7 * i + d) % 256) * 16 - 2048
        loud = [
            sum(abs(s(i)) for i in range(32 * j, 32 * j + 32)) // 32
            for j in range(8)
        ]
        pts = [s((k * 256) // 65) for k in range(65)]
        raw = 0
        for k in range(64):
            raw = (raw << 1) | (1 if pts[k + 1] > pts[k] else 0)
        wh = raw - (1 << 64) if raw >= (1 << 63) else raw
        assert list(got[d]["loudness"]) == loud
        assert got[d]["whash"] == wh
        assert got[d]["sample_rate"] == 8000 and got[d]["n_samples"] == 256
        assert got[d]["decoder"] == "wav"


def test_waveform_dhash_locality_and_media_near_dup_audio(spark):
    """A slightly perturbed clip stays within a few dHash bits of its
    original and pairs in media_near_dup; an unrelated clip doesn't."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    base = [((7 * i) % 256) * 16 - 2048 for i in range(256)]
    tweaked = list(base)
    tweaked[100] += 8  # sub-LSB-of-dHash perturbation
    unrelated = [((31 * i + 97) % 256) * 16 - 2048 for i in range(256)]
    mime = "audio/x-wav"
    h = lambda sm: B.perceptual_hash(C.encode_wav(sm), False, mime)
    d = lambda a, b: bin((h(a) ^ h(b)) & ((1 << 64) - 1)).count("1")
    assert d(base, base) == 0
    assert d(base, tweaked) <= 4
    assert d(base, unrelated) > 6

    rows = [
        (1, C.encode_wav(base)),
        (2, C.encode_wav(tweaked)),
        (3, C.encode_wav(unrelated)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").selectExpr(
        "doc_id", "payload", "'audio/x-wav' AS mime",
        "octet_length(payload) AS byte_len",
    )
    pairs = {
        (r["doc_id"], r["dup_doc_id"])
        for r in B.media_near_dup(df, max_hamming=4, fake=False).collect()
    }
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


# --- PPM-stream video: the real-codec trio's third member ---


def test_ppm_stream_roundtrip_and_malformed():
    import pytest

    from jonesy_spark.multimodal import codecs as C

    f1 = [(x, x, x) for x in range(4)]
    f2 = [(255 - x, 0, x) for x in range(4)]
    payload = C.encode_ppm(2, 2, f1) + C.encode_ppm(2, 2, f2)
    frames = C.decode_ppm_stream(payload)
    assert [fr[2] for fr in frames] == [f1, f2]
    # frames may differ in size — each header is self-describing
    mixed = C.encode_ppm(2, 2, f1) + C.encode_ppm(1, 4, f2)
    assert [(w, h) for w, h, _ in C.decode_ppm_stream(mixed)] == [(2, 2), (1, 4)]
    with pytest.raises(ValueError, match="empty"):
        C.decode_ppm_stream(b"")
    with pytest.raises(ValueError, match="frame 1"):
        C.decode_ppm_stream(payload[:-3])  # truncated second raster
    with pytest.raises(ValueError, match="not a P6"):
        C.decode_ppm_stream(payload + b"JUNK")


def test_video_features_closed_form(spark):
    """video_features equals the closed form of the fixture clip for
    the per-frame dHash sequence and the mean-luma track."""
    from jonesy_spark.multimodal import binary_ops as B

    docs = spark.createDataFrame([(0,), (3,), (77,)], "doc_id long")
    got = {
        r["doc_id"]: r
        for r in B.video_features(B.attach_ppm_video_payload(docs)).collect()
    }

    for d in (0, 3, 77):
        lum = lambda x, y, f: (
            299 * ((13 * x + 5 * f + d) % 256)
            + 587 * ((7 * y + 3 * f + d) % 256)
            + 114 * ((x + y + f) % 256)
        ) // 1000
        want_ml, want_fh = [], []
        for f in range(4):
            gray = [lum(x, y, f) for y in range(16) for x in range(16)]
            want_ml.append(sum(gray) // 256)
            raw = 0
            for r in range(8):
                for c in range(8):
                    a = lum((c * 16) // 9, 2 * r, f)
                    b = lum(((c + 1) * 16) // 9, 2 * r, f)
                    raw = (raw << 1) | (1 if b > a else 0)
            want_fh.append(raw - (1 << 64) if raw >= (1 << 63) else raw)
        assert got[d]["n_frames"] == 4
        assert list(got[d]["mean_luma"]) == want_ml
        assert list(got[d]["frame_hashes"]) == want_fh
        assert got[d]["decoder"] == "ppm-stream"


def test_video_near_dup_recovers_planted_shifts_exactly(spark):
    """Temporal near-dup: banded alignment recovery must equal an
    independent Python brute force over every pair and shift (the
    operator's pigeonhole recall claim), and the planted shifted
    copies (odd doc = even doc's sequence advanced one frame) must
    surface at shift -1 with 3 overlapping frames and zero distance."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    clips = B.attach_shifted_video_payload(docs)
    got = {
        (r["doc_a"], r["doc_b"], r["shift"]): (
            r["n_overlap"],
            r["hamming_total"],
        )
        for r in B.video_near_dup(
            clips, max_hamming=3, min_overlap=2
        ).collect()
    }

    # independent reference: decode every payload through the codec,
    # recompute per-frame dHashes, brute-force all pairs x shifts
    def dhash(gray):
        px = C.nearest_resize(gray, 16, 16, 9, 8)
        hv = 0
        for r in range(8):
            for c in range(8):
                hv = (hv << 1) | (1 if px[r * 9 + c + 1] > px[r * 9 + c] else 0)
        return hv - (1 << 64) if hv >= (1 << 63) else hv

    frames = {}
    for row in clips.collect():
        fhs = []
        for w, h, rgb in C.decode_ppm_stream(bytes(row["payload"])):
            fhs.append(dhash(C.luma(rgb)))
        frames[row["doc_id"]] = fhs

    want = {}
    for a in range(12):
        for b in range(a + 1, 12):
            for s in range(-3, 4):
                pairs = [
                    (frames[a][fa], frames[b][fa + s])
                    for fa in range(4)
                    if 0 <= fa + s < 4
                ]
                if len(pairs) < 2:
                    continue
                ds = [bin((x ^ y) & ((1 << 64) - 1)).count("1") for x, y in pairs]
                if max(ds) <= 3:
                    want[(a, b, s)] = (len(pairs), sum(ds))
    assert got == want
    # the planted ground truth is inside it, exactly
    for k in range(6):
        assert want[(2 * k, 2 * k + 1, -1)] == (3, 0)


def test_image_near_dup_real_codec_matches_brute_force(spark):
    """media_near_dup over real decoded pixels must equal an
    independent brute force over all pairs (the pigeonhole recall
    claim for h < 8), and the planted corner-perturbation pairs must
    surface within 1 bit."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    docs = spark.createDataFrame([(i,) for i in range(14)], "doc_id long")
    payloads = B.attach_ppm_near_dup_payload(docs)
    got = {
        (r["doc_id"], r["dup_doc_id"]): r["hamming"]
        for r in B.media_near_dup(
            payloads, max_hamming=3, fake=False
        ).collect()
    }

    hashes = {}
    for row in payloads.collect():
        w, h, rgb = C.decode_ppm(bytes(row["payload"]))
        px = C.nearest_resize(C.luma(rgb), w, h, 9, 8)
        hv = 0
        for r in range(8):
            for c in range(8):
                hv = (hv << 1) | (1 if px[r * 9 + c + 1] > px[r * 9 + c] else 0)
        hashes[row["doc_id"]] = hv
    want = {}
    for a in range(14):
        for b in range(a + 1, 14):
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    for k in range(7):
        assert want[(2 * k, 2 * k + 1)] <= 1


def test_audio_near_dup_real_codec_matches_brute_force(spark):
    """The audio member of the trio: banded waveform near-dup over
    real decoded samples must equal an independent brute force over
    all pairs; the planted one-sample perturbation pairs surface
    within 1 bit."""
    from jonesy_spark.multimodal import binary_ops as B
    from jonesy_spark.multimodal import codecs as C

    docs = spark.createDataFrame([(i,) for i in range(14)], "doc_id long")
    payloads = B.attach_wav_near_dup_payload(docs)
    got = {
        (r["doc_id"], r["dup_doc_id"]): r["hamming"]
        for r in B.media_near_dup(
            payloads, max_hamming=3, fake=False
        ).collect()
    }

    hashes = {}
    for row in payloads.collect():
        _rate, samples = C.decode_wav(bytes(row["payload"]))
        pts = C.waveform_resample(samples, 65)
        hv = 0
        for i in range(64):
            hv = (hv << 1) | (1 if pts[i + 1] > pts[i] else 0)
        hashes[row["doc_id"]] = hv - (1 << 64) if hv >= (1 << 63) else hv
    want = {}
    for a in range(14):
        for b in range(a + 1, 14):
            d = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    for k in range(7):
        assert want[(2 * k, 2 * k + 1)] <= 1


def _fake_media_batch(spark, items):
    """(doc_id, payload) rows in the binary-payload landing shape."""
    return spark.createDataFrame(
        [(i, bytes(p), "image/png", len(p)) for i, p in items],
        "doc_id long, payload binary, mime string, byte_len long",
    )


@pytest.mark.slow
def test_incremental_media_dedup_index_round_trip(spark, tmp_path):
    """The sixth incremental-index family member: batch one collapses
    its within-batch duplicate and seeds the phash index; batch two's
    cross-batch near-copy drops against the index while novel payloads
    append; a replay of batch two excludes its own epoch and
    reproduces the same novel set."""
    import random

    from jonesy_spark.multimodal import binary_ops as B

    rnd = random.Random(41)

    def payload():
        return bytes(rnd.randrange(256) for _ in range(640))

    def corrupt(p):
        c = bytearray(p)
        c[100] = (c[100] + 97) % 256
        return bytes(c)

    originals = [payload() for _ in range(6)]
    idx = str(tmp_path / "phash_idx")

    # absent index: probe yields no matches
    sk = B.perceptual_hashes(
        _fake_media_batch(spark, [(0, originals[0])]), fake=True
    )
    assert B.probe_phash_index(sk, spark, idx).count() == 0

    # batch 1: originals 0-5 plus a within-batch near-copy of 0
    b1 = _fake_media_batch(
        spark,
        [(i, p) for i, p in enumerate(originals)]
        + [(100, corrupt(originals[0]))],
    )
    with cache_scope():
        novel1, matches1 = B.incremental_media_dedup(
            b1, spark, idx, run_id="b1", fake=True
        )
        got1 = sorted(r["doc_id"] for r in novel1.select("doc_id").collect())
        assert matches1.count() == 0  # nothing indexed yet
    assert got1 == [0, 1, 2, 3, 4, 5]  # 100 collapsed onto 0

    # batch 2: a near-copy of indexed doc 3 (drops) + two novel docs
    b2 = _fake_media_batch(
        spark,
        [(200, corrupt(originals[3])), (201, payload()), (202, payload())],
    )
    with cache_scope():
        novel2, matches2 = B.incremental_media_dedup(
            b2, spark, idx, run_id="b2", fake=True
        )
        m = {(r["doc_id"], r["index_doc_id"]) for r in matches2.collect()}
        got2 = sorted(r["doc_id"] for r in novel2.select("doc_id").collect())
    assert (200, 3) in m
    assert got2 == [201, 202]

    # replay of batch 2 (same run_id, overwrite): the probe excludes
    # the crashed attempt's own subtree, so the novel set is identical
    with cache_scope():
        novel2r, matches2r = B.incremental_media_dedup(
            b2, spark, idx, run_id="b2", mode="overwrite", fake=True
        )
        assert sorted(
            r["doc_id"] for r in novel2r.select("doc_id").collect()
        ) == [201, 202]
        assert {(r["doc_id"], r["index_doc_id"]) for r in matches2r.collect()} == m

    # the index holds exactly the surviving representatives
    idx_docs = {
        r["doc_id"]
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    }
    assert idx_docs == {0, 1, 2, 3, 4, 5, 201, 202}


def test_vectorized_luma_grid_equals_tuple_decoder():
    """The numpy fast path (r10) computes the SAME integers as
    decode_ppm + luma + nearest_resize, P6 and P3 alike, including the
    validation error surface — pixel work moved off per-pixel Python
    without moving a single bit."""
    from jonesy_spark.multimodal import codecs as C

    # non-square P6 with varied channels
    w, h = 7, 5
    rgb = [((13 * i) % 256, (7 * i + 3) % 256, (251 * i) % 256)
           for i in range(w * h)]
    p6 = C.encode_ppm(w, h, rgb)
    gw, gh, grid = C.ppm_luma_grid(p6)
    assert (gw, gh) == (w, h)
    assert grid.reshape(-1).tolist() == C.luma(rgb)
    for tw, th in ((8, 8), (9, 8), (3, 2)):
        assert (
            C.resize_grid(grid, w, h, tw, th).reshape(-1).tolist()
            == C.nearest_resize(C.luma(rgb), w, h, tw, th)
        )
        assert C.ppm_grayscale_thumb(p6, tw, th) == C.nearest_resize(
            C.luma(rgb), w, h, tw, th
        )

    # P3 falls back to the tuple decoder with identical output
    p3 = ("P3\n%d %d\n255\n" % (w, h)).encode() + " ".join(
        str(c) for px in rgb for c in px
    ).encode()
    _, _, grid3 = C.ppm_luma_grid(p3)
    assert grid3.tolist() == grid.tolist()

    # error surface parity
    with pytest.raises(ValueError, match="truncated P6"):
        C.ppm_luma_grid(p6[:-2])
    low = b"P6\n2 1\n10\n" + bytes([5, 5, 5, 11, 5, 5])
    with pytest.raises(ValueError, match="exceeds declared maxval"):
        C.ppm_luma_grid(low)
    with pytest.raises(ValueError, match="not a PPM payload"):
        C.ppm_luma_grid(b"XX rubbish")


def test_vectorized_stream_walker_equals_tuple_walker():
    from jonesy_spark.multimodal import codecs as C

    frames = []
    for f in range(3):
        rgb = [((i + f) % 256, (2 * i) % 256, f) for i in range(12)]
        frames.append(C.encode_ppm(4, 3, rgb))
    stream = b"".join(frames)
    fast = C.ppm_stream_luma_grids(stream)
    slow = C.decode_ppm_stream(stream)
    assert len(fast) == len(slow) == 3
    for (fw, fh, grid), (sw, sh, rgb) in zip(fast, slow):
        assert (fw, fh) == (sw, sh)
        assert grid.reshape(-1).tolist() == C.luma(rgb)
    with pytest.raises(ValueError, match="truncated raster"):
        C.ppm_stream_luma_grids(stream[:-3])
    with pytest.raises(ValueError, match="empty PPM stream"):
        C.ppm_stream_luma_grids(b"")


def test_encode_ppm_raw_matches_tuple_encoder():
    from jonesy_spark.multimodal import codecs as C

    rgb = [(i % 256, (3 * i) % 256, (5 * i) % 256) for i in range(6)]
    raw = bytes(c for px in rgb for c in px)
    assert C.encode_ppm_raw(3, 2, raw) == C.encode_ppm(3, 2, rgb)
    with pytest.raises(ValueError, match="raster bytes"):
        C.encode_ppm_raw(3, 2, raw[:-1])


def test_vectorized_codec_property_equals_tuple_decoder():
    """Hypothesis pin for the r10 fast path: on ARBITRARY image
    dimensions, pixel values and thumb targets, the numpy luma grid +
    vectorized resize compute byte-for-byte what decode_ppm + luma +
    nearest_resize compute — including through a multi-frame stream."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jonesy_spark.multimodal import codecs as C

    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        tw=st.integers(1, 10),
        th=st.integers(1, 10),
        data=st.data(),
    )
    @settings(max_examples=60, deadline=None)
    def prop(w, h, tw, th, data):
        rgb = [
            tuple(data.draw(st.integers(0, 255)) for _ in range(3))
            for _ in range(w * h)
        ]
        payload = C.encode_ppm(w, h, rgb)
        gw, gh, grid = C.ppm_luma_grid(payload)
        assert (gw, gh) == (w, h)
        assert grid.reshape(-1).tolist() == C.luma(rgb)
        assert (
            C.resize_grid(grid, w, h, tw, th).reshape(-1).tolist()
            == C.nearest_resize(C.luma(rgb), w, h, tw, th)
        )
        # two-frame stream: walker parity with the tuple walker
        stream = payload + payload
        fast = C.ppm_stream_luma_grids(stream)
        slow = C.decode_ppm_stream(stream)
        assert len(fast) == len(slow) == 2
        for (fw, fh, g), (_, _, srgb) in zip(fast, slow):
            assert (fw, fh) == (w, h)
            assert g.reshape(-1).tolist() == C.luma(srgb)

    prop()


def test_probe_isin_cap_skips_partition_filter_keeps_semi_join(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #2: a backfill-sized batch (touched buckets over
    PROBE_ISIN_BUCKET_CAP) must not grow the probe plan with a huge
    In-filter — the probe skips the driver-side isin() and relies on
    the broadcast left_semi on (band_id, bucket), which prunes the
    identical rows post-scan. Pinned both ways: above the cap the
    physical plan carries NO bucket In-filter but still the semi-join,
    and the match set is byte-identical to the default-cap probe."""
    import random

    from jonesy_spark.multimodal import binary_ops as B

    rnd = random.Random(43)
    originals = [
        bytes(rnd.randrange(256) for _ in range(640)) for _ in range(12)
    ]
    idx = str(tmp_path / "phash_idx_cap")

    seed = B.perceptual_hashes(
        _fake_media_batch(spark, list(enumerate(originals))), fake=True
    )
    B.write_phash_index(seed, idx, run_id="seed")

    def corrupt(p):
        c = bytearray(p)
        c[100] = (c[100] + 97) % 256
        return bytes(c)

    batch = B.perceptual_hashes(
        _fake_media_batch(
            spark, [(1000 + i, corrupt(p)) for i, p in enumerate(originals)]
        ),
        fake=True,
    )

    def probe_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # default cap: the nightly path — partition isin() present
    with_filter = B.probe_phash_index(batch, spark, idx)
    got_default = sorted(
        (r["doc_id"], r["index_doc_id"]) for r in with_filter.collect()
    )
    assert got_default  # the near-copies must match their originals
    assert "bucket" in probe_plan(with_filter) and (
        " IN " in probe_plan(with_filter) or "isin" in probe_plan(with_filter)
        or "In(bucket" in probe_plan(with_filter)
    )

    # backfill path: cap forced below the batch's touched-bucket count
    monkeypatch.setattr(B, "PROBE_ISIN_BUCKET_CAP", 1)
    no_filter = B.probe_phash_index(batch, spark, idx)
    plan = probe_plan(no_filter)
    assert "In(bucket" not in plan and " IN " not in plan, plan
    assert "LeftSemi" in plan, plan
    got_capped = sorted(
        (r["doc_id"], r["index_doc_id"]) for r in no_filter.collect()
    )
    assert got_capped == got_default


def test_media_family_pair_density_contract(spark):
    """The counted bounded-tier contract ported to the media family
    (r14): the sf1 probe walked video_near_dup into a 6.25B-pair
    band-join enumeration (100x sf0.1's 62.4M — in-bucket growth is
    quadratic in per-bucket clip count), so both family members now
    carry the PPJoin pair_density_limit rule. On a planted degenerate
    corpus (every payload identical — the clique adversary) the exact
    tier must refuse from the CHEAP PRE-COUNT, before the quadratic
    join launches, naming bucket_cap and the incremental phash index;
    the capped tier completes the same corpus; under the budget the
    exact tier is bit-for-bit untouched."""
    from jonesy_spark.multimodal.binary_ops import (
        attach_ppm_video_payload,
        media_near_dup,
        video_near_dup,
    )
    from jonesy_spark.operators.dedup import PairBudgetExceeded

    k = 200
    same = bytes(range(256)) * 3
    df = spark.createDataFrame(
        [(i, same, "image/png", len(same)) for i in range(k)],
        "doc_id long, payload binary, mime string, byte_len long",
    )
    # identical payloads -> one phash -> 8 band buckets of k rows:
    # exact mass 8*C(200,2) = 159,200 >> the 10k budget
    with pytest.raises(PairBudgetExceeded, match="bucket_cap|incremental"):
        media_near_dup(df, pair_density_limit=10_000)
    # the capped collapse bounds the same corpus (every bucket is hot
    # here, so the capped tier drops them all — bounded, not wrong)
    with cache_scope():
        assert media_near_dup(df, bucket_cap=64).count() == 0
    # under the budget the exact tier is untouched: same pairs with
    # and without the limit (10 identical docs -> C(10,2) = 45)
    small = df.filter("doc_id < 10")
    with cache_scope():
        n_exact = media_near_dup(small).count()
    with cache_scope():
        n_limited = media_near_dup(small, pair_density_limit=10_000).count()
    assert n_exact == n_limited == 45

    # the video member: same contract over frame-level buckets
    one = attach_ppm_video_payload(
        spark.range(1).withColumnRenamed("id", "doc_id")
    ).collect()[0]
    vdf = spark.createDataFrame(
        [(i, one["payload"], one["mime"], one["byte_len"]) for i in range(100)],
        "doc_id long, payload binary, mime string, byte_len long",
    )
    with pytest.raises(PairBudgetExceeded, match="bucket_cap|incremental"):
        video_near_dup(vdf, pair_density_limit=10_000)
    with cache_scope():
        assert video_near_dup(vdf, bucket_cap=16).count() == 0
    vsmall = vdf.filter("doc_id < 6")
    with cache_scope():
        n_vexact = video_near_dup(vsmall).count()
    with cache_scope():
        n_vlimited = video_near_dup(vsmall, pair_density_limit=10_000_000).count()
    assert n_vexact == n_vlimited
