"""Baseline JPEG codec (operators/jpeg.py).

Verification strategy: no third-party codec exists in this container,
so correctness rests on (1) encode→decode round trips whose error is
bounded by the DCT quantization the format itself introduces, (2)
structural invariants (marker layout, dimension probe agreement,
restart-marker equivalence), and (3) honest refusal of the variants the
decoder does not implement. The Spark integration test closes VERDICT
r6 item 7: MJPEG AVI frames flow through sample_video_frames into
extract_image_features and produce REAL luma features.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
)
from pinecone_datasets_spark.operators.media_codecs import (
    UnsupportedMediaError,
    probe_bytes,
)

# numpy 1.x only warns where numpy 2 raises (out-of-bound int stores):
# a warning here is a decode path that would escape untyped on numpy 2
pytestmark = pytest.mark.filterwarnings("error::DeprecationWarning")


def _smooth_rgb(h: int, w: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 / max(w, 1), yy * 255 / max(h, 1),
         (xx + yy) * 255 / max(h + w, 1)],
        axis=2,
    )
    return np.clip(img + rng.normal(0, 4, img.shape), 0, 255).astype(
        np.uint8
    )


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_round_trip_error_bounded(sub):
    img = _smooth_rgb(40, 56)
    dec = decode_jpeg(encode_jpeg(img, quality=90, subsample=sub))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(float) - img.astype(float))
    assert err.mean() < 5.0, (sub, err.mean())
    assert err.max() < 40.0, (sub, err.max())


def test_quality_monotone():
    """Higher quality → smaller reconstruction error, bigger file."""
    img = _smooth_rgb(32, 32)
    prev_err, prev_size = None, None
    for q in (25, 60, 95):
        enc = encode_jpeg(img, quality=q)
        err = np.abs(
            decode_jpeg(enc).astype(float) - img.astype(float)
        ).mean()
        if prev_err is not None:
            assert err <= prev_err + 0.5, (q, err, prev_err)
            assert len(enc) >= prev_size, (q, len(enc), prev_size)
        prev_err, prev_size = err, len(enc)


def test_gray_round_trip_and_replication():
    g = _smooth_rgb(24, 40)[:, :, 1]
    dec = decode_jpeg(encode_jpeg(g, quality=92))
    assert dec.shape == (24, 40, 3)
    # grayscale replicates into all three channels
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])
    assert np.abs(dec[:, :, 0].astype(float) - g.astype(float)).mean() < 4.0


def test_restart_markers_equivalent():
    img = _smooth_rgb(40, 56)
    with_rst = decode_jpeg(encode_jpeg(img, quality=88, restart_interval=3))
    without = decode_jpeg(encode_jpeg(img, quality=88))
    assert np.array_equal(with_rst, without)


@pytest.mark.parametrize("hw", [(1, 1), (7, 9), (8, 8), (17, 3), (9, 16)])
def test_odd_dimensions_crop_exactly(hw):
    h, w = hw
    img = np.random.default_rng(h * 100 + w).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )
    for sub in ("444", "420"):
        dec = decode_jpeg(encode_jpeg(img, quality=95, subsample=sub))
        assert dec.shape == (h, w, 3), (hw, sub, dec.shape)


def test_flat_image_exact():
    """A constant image has only DC energy — round trip must be exact
    at any quality (quantized DC of a flat block reconstructs flat)."""
    img = np.full((16, 24, 3), 128, dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=50))
    assert np.abs(dec.astype(int) - 128).max() <= 1


def test_probe_agrees_with_decoder():
    img = _smooth_rgb(33, 47)
    enc = encode_jpeg(img, quality=80, subsample="420")
    fmt, w, h, dur = probe_bytes(enc)
    assert (fmt, w, h) == ("jpeg", 47, 33)
    assert decode_jpeg(enc).shape == (33, 47, 3)


def test_rejects_malformed_and_garbage():
    img = _smooth_rgb(16, 16)
    enc = bytearray(encode_jpeg(img, quality=80))
    # flip SOF0 (FFC0) to SOF2 (FFC2): the stream CLAIMS progressive
    # but carries a baseline full-band scan (Ss=0, Se=63 — illegal in
    # SOF2, G.1.1.1.1) — must refuse, not mis-decode
    at = bytes(enc).find(b"\xff\xc0")
    assert at > 0
    enc[at + 1] = 0xC2
    with pytest.raises(UnsupportedMediaError, match="spectral band"):
        decode_jpeg(bytes(enc))
    # arithmetic-coded SOF (SOF9/0xC9) stays an honest refusal
    enc2 = bytearray(encode_jpeg(img, quality=80))
    enc2[at + 1] = 0xC9
    with pytest.raises(UnsupportedMediaError, match="supported"):
        decode_jpeg(bytes(enc2))
    with pytest.raises(UnsupportedMediaError):
        decode_jpeg(b"\x89PNG not a jpeg")
    with pytest.raises(UnsupportedMediaError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no frame


@pytest.mark.parametrize(
    "shape,sub",
    [
        ((16, 24, 3), "444"),
        ((17, 23, 3), "420"),
        ((32, 32, 3), "422"),
        ((8, 8), "444"),
        ((9, 15, 3), "444"),
    ],
)
def test_progressive_roundtrip_matches_baseline(shape, sub):
    """SOF2 decode (VERDICT r7 item 5): the progressive encoder's
    quantized coefficients are identical to the baseline encoder's, so
    BOTH streams must decode to bit-identical pixels — this pins the
    whole spectral-selection + successive-approximation + EOB-run
    machinery to the already-trusted baseline path."""
    from pinecone_datasets_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(sum(shape))
    px = rng.integers(0, 256, shape, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(px, quality=85, subsample=sub))
    prog = decode_jpeg(
        encode_jpeg_progressive(px, quality=85, subsample=sub)
    )
    assert np.array_equal(base, prog)


def test_progressive_flat_and_gradient_eob_runs():
    """Flat blocks exercise pure EOB-run scans; gradients exercise long
    runs + refinement correction bits."""
    from pinecone_datasets_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    flat = np.full((24, 24, 3), 128, np.uint8)
    grad = (
        np.linspace(0, 255, 64 * 48 * 3).reshape(64, 48, 3)
    ).astype(np.uint8)
    for px in (flat, grad):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(px)),
            decode_jpeg(encode_jpeg_progressive(px)),
        )


def test_progressive_quality_sweep():
    from pinecone_datasets_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (20, 28, 3), dtype=np.uint8)
    for q in (30, 60, 95):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(px, quality=q)),
            decode_jpeg(encode_jpeg_progressive(px, quality=q)),
        )


def test_truncated_scan_refuses():
    img = _smooth_rgb(24, 24)
    enc = encode_jpeg(img, quality=80)
    with pytest.raises(UnsupportedMediaError):
        decode_jpeg(enc[: len(enc) // 2])


def test_16bit_quant_table_parses():
    """DQT with Pq=1 (16-bit entries) must parse — rewrite the 8-bit
    luma table as 16-bit and expect an identical decode."""
    import struct

    img = _smooth_rgb(16, 16)[:, :, 0]
    enc = encode_jpeg(img, quality=85)
    base = decode_jpeg(enc)
    at = enc.find(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", enc[at + 2 : at + 4])
    tid = enc[at + 4]
    vals = enc[at + 5 : at + 5 + 64]
    wide = struct.pack(">H", 2 + 1 + 128) + bytes([0x10 | tid]) + b"".join(
        struct.pack(">H", v) for v in vals
    )
    patched = enc[:at] + b"\xff\xdb" + wide + enc[at + 2 + seglen:]
    assert np.array_equal(decode_jpeg(patched), base)


def test_mjpeg_avi_frames_feed_image_features(spark):
    """End-to-end: MJPEG AVI → sample_video_frames → REAL luma features
    (VERDICT r6 item 7 — formerly only the DIB path could do this)."""
    from pinecone_datasets_spark.operators.media_codecs import encode_avi
    from pinecone_datasets_spark.operators.multimodal import (
        extract_image_features,
        sample_video_frames,
    )

    frames = [
        encode_jpeg(_smooth_rgb(16, 16, seed=s), quality=90)
        for s in range(3)
    ]
    avi = encode_avi(
        frames, interval_ms=500, fourcc="MJPG", width=16, height=16
    )
    media = spark.createDataFrame(
        [("v1", "video", bytearray(avi), 1500)],
        "media_id string, media_type string, content binary, "
        "duration_ms long",
    )
    sampled = sample_video_frames(media, every_ms=500)
    rows = sampled.collect()
    assert len(rows) == 3
    assert all(bytes(r["frame"])[:2] == b"\xff\xd8" for r in rows)

    feats = extract_image_features(
        sampled.select(
            F.concat_ws("_", "media_id", "ts_ms").alias("media_id"),
            F.col("frame").alias("content"),
        ),
        feature_dim=8,
    ).collect()
    assert len(feats) == 3
    for r in feats:
        assert r["width"] == 16 and r["height"] == 16
        assert r["mean_luma"] is not None and 0.0 <= r["mean_luma"] <= 255.0
        assert r["feature"] is not None and len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-6  # normalized histogram
    # frames differ (different seeds) → features must not be identical
    assert len({tuple(r["feature"]) for r in feats}) > 1


def test_jpeg_phash_detects_planted_near_dups(spark):
    """JPEG stills now flow through the perceptual-hash dedup: a
    re-encoded (slightly lossy) copy must land within the Hamming
    threshold of its source."""
    from pinecone_datasets_spark.operators.phash import (
        image_neardup_pairs,
        image_phash,
    )

    base = _smooth_rgb(32, 32, seed=3)
    rows = [
        ("a", bytearray(encode_jpeg(base, quality=95))),
        ("b", bytearray(encode_jpeg(base, quality=70))),  # same picture
        (
            "c",
            bytearray(
                encode_jpeg(_smooth_rgb(32, 32, seed=99)[::-1], quality=95)
            ),
        ),
    ]
    media = spark.createDataFrame(
        rows, "media_id string, content binary"
    )
    hashed = image_phash(media)
    got = {r["media_id"]: r["phash"] for r in hashed.collect()}
    assert got["a"] is not None and got["b"] is not None
    pairs = {
        (r["id_a"], r["id_b"])
        for r in image_neardup_pairs(media, max_hamming=10).collect()
    }
    assert ("a", "b") in pairs or ("b", "a") in pairs


def test_dimension_guard_refuses_before_allocating():
    """A corrupt SOF claiming a 65535x65535 frame must cost a typed
    refusal, not a ~32 GB coefficient allocation (corpus robustness:
    one hostile blob = one quarantine row, never an executor OOM)."""
    import struct as _struct

    img = _smooth_rgb(16, 16)
    enc = bytearray(encode_jpeg(img, quality=80))
    at = bytes(enc).find(b"\xff\xc0")
    # SOF payload: len(2) prec(1) height(2) width(2) — patch dims
    enc[at + 5 : at + 9] = _struct.pack(">HH", 65535, 65535)
    with pytest.raises(UnsupportedMediaError, match="MAX_DECODE_PIXELS"):
        decode_jpeg(bytes(enc))


@pytest.mark.parametrize("mode", ["baseline", "progressive"])
def test_corruption_fuzz_never_uncontrolled(mode):
    """Byte-flip fuzz over header AND scan bytes: every mutation must
    either decode to a picture (possibly different) or raise the typed
    UnsupportedMediaError — no IndexError/ValueError/infinite work
    escapes the decode boundary."""
    from pinecone_datasets_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    enc = (
        encode_jpeg(px, quality=70)
        if mode == "baseline"
        else encode_jpeg_progressive(px, quality=70)
    )
    positions = rng.integers(2, len(enc), size=120)
    for pos in positions:
        mutated = bytearray(enc)
        mutated[pos] ^= 1 << int(rng.integers(0, 8))
        try:
            out = decode_jpeg(bytes(mutated))
            assert isinstance(out, np.ndarray) and out.ndim == 3
        except UnsupportedMediaError:
            pass


def test_progressive_dc_overflow_is_typed_error():
    """A DC table whose one code means a 40-bit difference walks the
    progressive DC predictor past int32. The decoder must refuse the
    stream with the typed error; storing the value into the int32
    coefficient array wraps on numpy 1 and raises OverflowError on
    numpy 2."""
    import struct as _struct

    def seg(marker: int, payload: bytes) -> bytes:
        head = bytes([0xFF, marker]) + _struct.pack(">H", len(payload) + 2)
        return head + payload

    dqt = seg(0xDB, b"\x00" + b"\x01" * 64)
    # 8x8 gray frame, one component (id 1, 1x1 sampling, quant table 0)
    sof2 = seg(0xC2, _struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
    # DC table 0: a single 1-bit code "0" for magnitude category 40
    dht = seg(0xC4, b"\x00" + b"\x01" + b"\x00" * 15 + bytes([40]))
    # DC first scan (Ss=Se=0, Ah=Al=0) over component 1
    sos = seg(0xDA, b"\x01\x01\x00\x00\x00\x00")
    # bits: code "0", then 40 magnitude bits "1" + 39 x "0" (= 2**39),
    # then 1-padding to the byte boundary
    scan = bytes([0x40, 0x00, 0x00, 0x00, 0x00, 0x7F])
    stream = b"\xff\xd8" + dqt + sof2 + dht + sos + scan + b"\xff\xd9"
    with pytest.raises(UnsupportedMediaError, match="out of range"):
        decode_jpeg(stream)


def test_dc_only_quality100_roundtrip_is_pixel_exact():
    """The q25_q39 'image_rt' jpeg/jpegp oracle rests on this
    invariant: an 8x8-block-constant GRAY image at quality 100
    round-trips bit-exactly through BOTH decode paths — constant
    blocks make the FDCT DC-only (AC exactly 0) and the quality-100 DC
    quantizer is 1, so nothing is lost; the gray input keeps the color
    transform's float noise (~1e-13) far from every rounding
    boundary. If a future quality table or IDCT change breaks this,
    the oracle breaks loudly here first."""
    import numpy as np

    from pinecone_datasets_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    for doc_id in (0, 7, 41, 255, 65535):
        v = np.zeros((24, 24), np.uint8)
        for i in range(3):
            for j in range(3):
                v[i * 8:(i + 1) * 8, j * 8:(j + 1) * 8] = (
                    doc_id * 13 + i * 5 + j * 3
                ) % 256
        pix = np.repeat(v[:, :, None], 3, axis=2)
        for enc in (
            encode_jpeg(pix, quality=100),
            encode_jpeg_progressive(pix, quality=100),
        ):
            np.testing.assert_array_equal(decode_jpeg(enc), pix)


def test_zero_sampling_factor_quarantines_not_zde():
    """r11 review (repro'd): a corrupt SOF with hv byte 0x00 raised a
    raw ZeroDivisionError no kernel catches — one hostile JPEG killed
    the whole job. Must be UnsupportedMediaError."""
    import numpy as np

    from pinecone_datasets_spark.operators.jpeg import (
        UnsupportedMediaError,
        decode_jpeg,
        encode_jpeg,
    )

    good = bytearray(
        encode_jpeg(
            np.full((16, 16, 3), 128, dtype=np.uint8)
        )
    )
    # find the SOF0 marker and zero the first component's hv byte
    i = bytes(good).find(b"\xff\xc0")
    assert i > 0
    hv_at = i + 2 + 2 + 1 + 2 + 2 + 1 + 1  # len,prec,h,w,ncomp,cid -> hv
    good[hv_at] = 0
    with pytest.raises(UnsupportedMediaError, match="sampling"):
        decode_jpeg(bytes(good))


def test_huffman_fold_handles_deep_pre_fold_codes():
    """r11 review (repro'd): symbols whose pre-fold code depth exceeded
    16 were dropped from huffval while bits[] was folded, making the
    table inconsistent (IndexError downstream). jchuff.c iterates to
    MAX_CLEN=32."""
    from pinecone_datasets_spark.operators.jpeg import _build_huffman

    freqs = {i: 1 << i for i in range(26)}  # doubling skew: depth ~27
    bits, huffval = _build_huffman(freqs)
    assert sum(bits) == len(huffval) == 26
    assert sorted(huffval) == list(range(26))
    assert all(b >= 0 for b in bits) and len(bits) == 16
