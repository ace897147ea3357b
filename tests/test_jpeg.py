"""Pixel-exact tests for the pure-stdlib baseline JPEG codec
(sources/jpeg.py — VERDICT r04 stretch #8).

Methodology (the arithmetic-oracle discipline of the PNG/video/PCM
lanes): fixtures are written from HAND-CHOSEN quantized coefficients by
``encode_jpeg_from_coeffs``, and the expected image is computed by an
INDEPENDENT direct-sum IDCT (quadruple loop over the textbook T.81
formula — sharing no code with the decoder's separable matrix path)
plus the decoder's documented upsampling (sample replication) and JFIF
color-convert contract. A match proves marker parsing, DHT canonical
code assignment, Huffman + DC-predictor decode, de-zigzag, dequantize,
IDCT, upsampling, and color conversion end-to-end. Each comparison
first asserts every pre-rounding value is > 1e-6 away from a .5
boundary, so 'pixel-exact' cannot silently ride on two float paths
rounding the same borderline value together.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from automated_property_data_ingestion_document_pipeline_spark.sources import jpeg
from automated_property_data_ingestion_document_pipeline_spark.sources.jpeg import (
    STD_QT_CHROMA,
    STD_QT_LUMA,
    JpegUnsupported,
    decode_jpeg,
    encode_jpeg_from_coeffs,
)


def encode_jpeg(pixels: np.ndarray) -> bytes:
    """Fixture encoder (grayscale or RGB, always 4:4:4): forward DCT,
    quantize with the standard luma table (chroma table for Cb/Cr), then
    the codec's own entropy writer. For round-trip tests only:
    decode(encode(img)) ≈ img within quantization error."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    if c == 3:
        p = pixels.astype(np.float64)
        y = 0.299 * p[..., 0] + 0.587 * p[..., 1] + 0.114 * p[..., 2]
        cb = -0.168736 * p[..., 0] - 0.331264 * p[..., 1] + 0.5 * p[..., 2]
        cr = 0.5 * p[..., 0] - 0.418688 * p[..., 1] - 0.081312 * p[..., 2]
        planes = [y - 128.0, cb, cr]
    elif c == 1:
        planes = [pixels[..., 0].astype(np.float64) - 128.0]
    else:
        raise ValueError("gray or RGB only")
    qts = [STD_QT_LUMA, STD_QT_CHROMA] if c == 3 else [STD_QT_LUMA]
    comp_coeffs: list[list[np.ndarray]] = []
    for ci, plane in enumerate(planes):
        ph = -(-h // 8) * 8
        pw = -(-w // 8) * 8
        padded = np.zeros((ph, pw), dtype=np.float64)
        padded[:h, :w] = plane
        if h < ph:
            padded[h:, :w] = plane[-1:, :]
        if w < pw:
            padded[:, w:] = padded[:, w - 1 : w]
        q = qts[min(ci, 1)].astype(np.float64)
        blocks = []
        for by in range(ph // 8):
            for bx in range(pw // 8):
                blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coeffs = jpeg._IDCT_A @ blk @ jpeg._IDCT_A.T  # forward DCT (A orthogonalized)
                blocks.append(np.round(coeffs / q).astype(np.int64))
        comp_coeffs.append(blocks)
    return encode_jpeg_from_coeffs(
        h, w, comp_coeffs, sampling=[(1, 1)] * c,
        qt_luma=qts[0], qt_chroma=qts[min(1, len(qts) - 1)],
    )


def ref_idct(coeffs: np.ndarray) -> np.ndarray:
    """Textbook T.81 A.3.3 inverse DCT, direct quadruple sum."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coeffs[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x, y] = s / 4.0
    return out


def _to_px(plane: np.ndarray) -> np.ndarray:
    frac = np.abs((plane + 128.0) - np.floor(plane + 128.0) - 0.5)
    assert (frac > 1e-6).all(), "value too close to a .5 rounding boundary"
    return np.clip(np.round(plane + 128.0), 0, 255).astype(np.uint8)


def _rng_coeffs(rng: np.random.Generator) -> np.ndarray:
    """A dense-ish block exercising DC, low/high AC, ZRL runs."""
    c = np.zeros((8, 8), dtype=np.int64)
    c[0, 0] = int(rng.integers(-40, 40))
    for _ in range(10):
        u, v = int(rng.integers(0, 8)), int(rng.integers(0, 8))
        c[u, v] = int(rng.integers(-20, 20))
    c[7, 7] = int(rng.integers(1, 5))  # forces a long zero run + no-EOB path
    return c


def test_gray_444_pixel_exact_vs_independent_idct():
    rng = np.random.default_rng(7)
    blocks = [_rng_coeffs(rng) for _ in range(4)]  # 16x16 gray
    data = encode_jpeg_from_coeffs(16, 16, [blocks])
    got = decode_jpeg(data)
    assert got.shape == (16, 16, 1)
    q = STD_QT_LUMA.astype(np.float64)
    want = np.zeros((16, 16), dtype=np.uint8)
    for i, blk in enumerate(blocks):  # MCU raster order: 2x2 blocks
        by, bx = divmod(i, 2)
        want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _to_px(ref_idct(blk * q))
    np.testing.assert_array_equal(got[:, :, 0], want)


def test_color_444_pixel_exact_with_jfif_conversion():
    rng = np.random.default_rng(11)
    comp = [[_rng_coeffs(rng)] for _ in range(3)]  # one 8x8 MCU, 3 comps
    data = encode_jpeg_from_coeffs(8, 8, comp)
    got = decode_jpeg(data)
    assert got.shape == (8, 8, 3)
    y = ref_idct(comp[0][0] * STD_QT_LUMA) + 128.0
    cb = ref_idct(comp[1][0] * STD_QT_CHROMA)
    cr = ref_idct(comp[2][0] * STD_QT_CHROMA)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    for ch, plane in enumerate((r, g, b)):
        frac = np.abs(plane - np.floor(plane) - 0.5)
        assert (frac > 1e-6).all()
        np.testing.assert_array_equal(
            got[:, :, ch], np.clip(np.round(plane), 0, 255).astype(np.uint8)
        )


def test_color_420_subsampled_pixel_exact():
    """4:2:0: one MCU covers 16x16 with 4 Y blocks + 1 Cb + 1 Cr; chroma
    upsamples by 2x2 sample replication (the documented contract)."""
    rng = np.random.default_rng(13)
    ys = [_rng_coeffs(rng) for _ in range(4)]
    cbs = [_rng_coeffs(rng)]
    crs = [_rng_coeffs(rng)]
    data = encode_jpeg_from_coeffs(
        16, 16, [ys, cbs, crs], sampling=[(2, 2), (1, 1), (1, 1)]
    )
    got = decode_jpeg(data)
    assert got.shape == (16, 16, 3)
    yplane = np.zeros((16, 16))
    for i, blk in enumerate(ys):
        by, bx = divmod(i, 2)
        yplane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = ref_idct(blk * STD_QT_LUMA)
    cb = np.repeat(np.repeat(ref_idct(cbs[0] * STD_QT_CHROMA), 2, 0), 2, 1)
    cr = np.repeat(np.repeat(ref_idct(crs[0] * STD_QT_CHROMA), 2, 0), 2, 1)
    yf = yplane + 128.0
    r = yf + 1.402 * cr
    g = yf - 0.344136 * cb - 0.714136 * cr
    b = yf + 1.772 * cb
    for ch, plane in enumerate((r, g, b)):
        frac = np.abs(plane - np.floor(plane) - 0.5)
        assert (frac > 1e-6).all()
        np.testing.assert_array_equal(
            got[:, :, ch], np.clip(np.round(plane), 0, 255).astype(np.uint8)
        )


def test_restart_markers_reset_predictors():
    """With DRI=1 every MCU is its own entropy segment: byte-aligned,
    RSTn-separated, DC predictor reset — decoded pixels must equal the
    no-restart encoding of the same coefficients."""
    rng = np.random.default_rng(17)
    blocks = [_rng_coeffs(rng) for _ in range(6)]  # 16x24 gray
    plain = decode_jpeg(encode_jpeg_from_coeffs(16, 24, [blocks]))
    restarted = decode_jpeg(
        encode_jpeg_from_coeffs(16, 24, [blocks], restart_interval=1)
    )
    np.testing.assert_array_equal(plain, restarted)


def test_dc_only_blocks_have_closed_form_pixels():
    """The q_jpeg_stats oracle contract: a DC-only block with q00=16
    decodes to the flat value 128 + 2*dc exactly (IDCT of DC-only =
    dc*q00/8 everywhere — integer, no rounding ambiguity)."""
    for dc in (-50, -1, 0, 1, 37, 49):
        data = encode_jpeg_from_coeffs(
            8, 8, [[np.array([[dc] + [0] * 7] + [[0] * 8] * 7, dtype=np.int64)]]
        )
        got = decode_jpeg(data)
        assert (got == 128 + 2 * dc).all(), dc


def test_odd_dimensions_crop():
    rng = np.random.default_rng(19)
    blocks = [_rng_coeffs(rng) for _ in range(4)]
    got = decode_jpeg(encode_jpeg_from_coeffs(13, 11, [blocks]))
    assert got.shape == (13, 11, 1)


def test_roundtrip_flat_image_is_exact():
    # 100-128 = -28; DC = 8*(-28) = -224 = -14 * q00(16): survives
    # quantization exactly, so decode(encode(flat)) == flat.
    img = np.full((24, 16), 100, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert (out[:, :, 0] == 100).all()


def test_roundtrip_random_image_within_quantization_error():
    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))[:, :, 0].astype(np.int64)
    err = np.abs(out - img.astype(np.int64))
    # K.1 tables at high frequencies quantize coarsely; bound, don't
    # expect exactness — the pixel-exact guarantees live in the
    # coefficient-driven tests above.
    assert err.mean() < 20 and err.max() < 128


def test_roundtrip_rgb_smooth_gradient_close():
    y, x = np.mgrid[0:16, 0:16]
    img = np.stack(
        [(40 + 3 * y).astype(np.uint8), (60 + 3 * x).astype(np.uint8),
         (90 + y + x).astype(np.uint8)],
        axis=-1,
    )
    out = decode_jpeg(encode_jpeg(img)).astype(np.int64)
    assert np.abs(out - img.astype(np.int64)).mean() < 12


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda d: b"\x00" + d, "SOI"),
        # SOF2 became a supported mode in r06; SOF3 (lossless) stays out
        (lambda d: d.replace(b"\xff\xc0", b"\xff\xc3", 1), "unsupported frame"),
        (lambda d: d[: len(d) // 2], ""),  # truncated
    ],
)
def test_unsupported_and_corrupt_raise_typed_error(mutate, msg):
    rng = np.random.default_rng(29)
    data = encode_jpeg_from_coeffs(8, 8, [[_rng_coeffs(rng)]])
    with pytest.raises(JpegUnsupported) as e:
        decode_jpeg(mutate(data))
    assert msg in str(e.value)


def test_resize_image_routes_jpeg_payloads(spark):
    """Spark-side routing (r05): a baseline-JPEG payload decodes through
    sources/jpeg.py inside resize_image, resizes on real pixels, and
    re-encodes as PNG; undecodable bytes still pass through."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.binary import (
        resize_image,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.png import (
        decode_png,
        resize_nearest,
    )

    rng = np.random.default_rng(31)
    blocks = [_rng_coeffs(rng) for _ in range(4)]
    payload = encode_jpeg_from_coeffs(16, 16, [blocks])
    expect_px = decode_jpeg(payload)  # decoder is pixel-exact-tested above
    rows = [(1, payload), (99, b"neither png nor jpeg")]
    df = spark.createDataFrame(rows, "doc_id bigint, content binary")
    got = {r["doc_id"]: r for r in resize_image(df, target_h=8, target_w=8).collect()}
    r = got[1]
    assert r["decoded"] and (r["height"], r["width"], r["channels"]) == (8, 8, 1)
    assert np.array_equal(
        decode_png(bytes(r["content"])), resize_nearest(expect_px, 8, 8)
    )
    assert not got[99]["decoded"]


def test_fuzz_malformed_streams_always_raise_typed_error():
    """The decode contract: ANY malformed payload raises JpegUnsupported
    — never IndexError/struct.error/StopIteration — so resize_image's
    pass-through gate stays typed. Seeded mutation + garbage fuzz
    (the full 10k-stream sweep ran clean during development; this keeps
    a 600-stream regression canary in CI)."""
    rng = np.random.default_rng(123)
    blocks = [np.zeros((8, 8), dtype=np.int64) for _ in range(4)]
    for b in blocks:
        b[0, 0] = 10
        b[3, 3] = -5
    base = bytearray(encode_jpeg_from_coeffs(16, 16, [blocks]))
    for _ in range(400):
        data = bytearray(base)
        for _m in range(rng.integers(1, 8)):
            op = rng.integers(0, 3)
            if op == 0 and len(data) > 4:
                data[rng.integers(2, len(data))] = rng.integers(0, 256)
            elif op == 1 and len(data) > 8:
                data = data[: rng.integers(4, len(data))]
            else:
                data.insert(int(rng.integers(2, len(data))), int(rng.integers(0, 256)))
        try:
            decode_jpeg(bytes(data))
        except JpegUnsupported:
            pass  # the only permitted failure type
    for _ in range(200):
        garbage = bytes([0xFF, 0xD8]) + bytes(
            rng.integers(0, 256, size=rng.integers(0, 400), dtype=np.uint8)
        )
        try:
            decode_jpeg(garbage)
        except JpegUnsupported:
            pass


# --- r06 ADVICE regressions: header-targeted mutations that previously
# escaped the typed-error contract (ZeroDivisionError from zero sampling
# nibbles, bare ValueError from short component slices, ~34 GB plane
# allocation from a 65535x65535 claim). ---


def _sof_offset(data: bytes) -> int:
    i = data.find(b"\xff\xc0")
    assert i > 0
    return i


def _patch(data: bytes, offset: int, new: bytes) -> bytes:
    return data[:offset] + new + data[offset + len(new) :]


def _gray_fixture() -> bytes:
    rng = np.random.default_rng(47)
    return encode_jpeg_from_coeffs(8, 8, [[_rng_coeffs(rng)]])


@pytest.mark.parametrize("hv", [0x00, 0x10, 0x01, 0x50, 0x05, 0x15, 0x51])
def test_sof_sampling_nibble_out_of_range_is_typed(hv):
    """SOF0 sampling bytes with a zero or >4 nibble previously divided
    by zero in _decode_scan (ADVICE r05 high); now refused at parse."""
    data = _gray_fixture()
    i = _sof_offset(data)
    # SOF body layout: prec(1) h(2) w(2) ncomp(1) [cid hv tq]... —
    # comp-0 sampling byte sits at marker+11.
    mutated = _patch(data, i + 11, bytes([hv]))
    with pytest.raises(JpegUnsupported):
        decode_jpeg(mutated)


def test_sof_shortened_seglen_is_typed():
    """A shortened SOF segment length made the 3-byte component slice
    unpack raise bare ValueError (ADVICE r05 high); now a typed
    truncated-component-list refusal."""
    data = _gray_fixture()
    i = _sof_offset(data)
    # gray SOF seglen is 11 (2 len + 6 header + 3 component); claim 9
    # so the component slice is short but the segment itself parses.
    mutated = _patch(data, i + 2, (9).to_bytes(2, "big"))
    with pytest.raises(JpegUnsupported, match="SOF component"):
        decode_jpeg(mutated)


def test_sos_shortened_seglen_is_typed():
    data = _gray_fixture()
    i = data.find(b"\xff\xda")
    assert i > 0
    # gray SOS seglen is 8 (2 len + ns(1) + [cs td/ta](2) + spectral(3));
    # claim 4 so only ns survives in the body.
    mutated = _patch(data, i + 2, (4).to_bytes(2, "big"))
    with pytest.raises(JpegUnsupported, match="SOS component"):
        decode_jpeg(mutated)


@pytest.mark.parametrize(
    "dims,msg",
    [
        ((0xFFFF, 0xFFFF), "pixel cap"),  # ~34 GB/plane claim (ADVICE low)
        ((0, 8), "zero frame dimension"),
        ((8, 0), "zero frame dimension"),
    ],
)
def test_sof_dimension_claims_refused_before_allocation(dims, msg):
    data = _gray_fixture()
    i = _sof_offset(data)
    h, w = dims
    mutated = _patch(data, i + 5, h.to_bytes(2, "big") + w.to_bytes(2, "big"))
    with pytest.raises(JpegUnsupported, match=msg):
        decode_jpeg(mutated)


def test_mcu_grid_implausible_vs_stream_length_refused():
    """Under-cap dimensions (4096x4096 = 16 MP < the 64 MP cap) over a
    ~100-byte entropy stream cannot hold the claimed MCU grid at the
    2-bit/block floor — refused before the 16 MB/plane allocation."""
    data = _gray_fixture()
    i = _sof_offset(data)
    mutated = _patch(
        data, i + 5, (4096).to_bytes(2, "big") + (4096).to_bytes(2, "big")
    )
    with pytest.raises(JpegUnsupported, match="MCU grid"):
        decode_jpeg(mutated)


def test_fuzz_sof_targeted_mutations_stay_typed():
    """Seeded fuzz aimed at the SOF/SOS headers specifically (the r05
    escapes were all header-byte classes the uniform fuzz rarely hit):
    random patches of the sampling byte, seglen fields, dimension
    fields, and ncomp over 600 streams — JpegUnsupported or success
    are the only permitted outcomes."""
    rng = np.random.default_rng(271)
    base = _gray_fixture()
    sof = _sof_offset(base)
    sos = base.find(b"\xff\xda")
    hot = [sof + 2, sof + 3, sof + 5, sof + 6, sof + 7, sof + 8, sof + 9,
           sof + 10, sof + 11, sof + 12, sos + 2, sos + 3, sos + 4, sos + 5]
    for _ in range(600):
        data = bytearray(base)
        for _m in range(rng.integers(1, 4)):
            data[hot[rng.integers(0, len(hot))]] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(data))
        except JpegUnsupported:
            pass


# --- r06 stretch: progressive (SOF2) decode. Oracle: a progressive
# stream is a different entropy PACKAGING of the same quantized
# coefficients, so its decode must be pixel-identical to the baseline
# encoding of those coefficients (the two share every stage after
# coefficient reconstruction — any scan-machinery bit error flips a
# coefficient and therefore a pixel). ---

from automated_property_data_ingestion_document_pipeline_spark.sources.jpeg import (  # noqa: E402
    encode_jpeg_progressive_from_coeffs,
)


def _mkblocks(rng, n, zero_frac=0.3):
    out = []
    for _ in range(n):
        if rng.random() < zero_frac:
            out.append(np.zeros((8, 8), dtype=np.int64))  # exercises EOB runs
        else:
            out.append(_rng_coeffs(rng))
    return out


def _pair(h, w, sampling, rng, scans=None, restart_interval=0):
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    coeffs = [_mkblocks(rng, mx * my * s[0] * s[1]) for s in sampling]
    base = encode_jpeg_from_coeffs(h, w, coeffs, sampling=sampling)
    prog = encode_jpeg_progressive_from_coeffs(
        h, w, coeffs, sampling=sampling, scans=scans,
        restart_interval=restart_interval,
    )
    return base, prog


@pytest.mark.parametrize(
    "h,w,sampling,ri",
    [
        (16, 16, [(1, 1)], 0),                      # gray, default script
        (24, 40, [(1, 1)], 3),                      # gray + restarts
        (17, 23, [(1, 1)], 0),                      # odd dims (crop)
        (16, 16, [(1, 1)] * 3, 0),                  # color 4:4:4
        (32, 32, [(2, 2), (1, 1), (1, 1)], 0),      # color 4:2:0
        (17, 29, [(2, 2), (1, 1), (1, 1)], 0),      # 4:2:0 + odd dims
        (32, 24, [(2, 1), (1, 1), (1, 1)], 2),      # 4:2:2 + restarts
    ],
)
def test_progressive_equals_baseline(h, w, sampling, ri):
    rng = np.random.default_rng(7 * h + w)
    base, prog = _pair(h, w, sampling, rng, restart_interval=ri)
    assert np.array_equal(decode_jpeg(base), decode_jpeg(prog))


def test_progressive_spectral_selection_only():
    """Band-split script with NO successive approximation (Ah=Al=0)."""
    rng = np.random.default_rng(11)
    base, prog = _pair(
        24, 24, [(1, 1)], rng,
        scans=[([0], 0, 0, 0, 0), ([0], 1, 5, 0, 0), ([0], 6, 63, 0, 0)],
    )
    assert np.array_equal(decode_jpeg(base), decode_jpeg(prog))


def test_progressive_deep_successive_approximation():
    """4-level DC refinement chain + 2-level AC refinement — every
    refinement path (correction bits, newly-nonzero placement, EOB-run
    correction tails) participates."""
    rng = np.random.default_rng(13)
    base, prog = _pair(
        32, 32, [(1, 1)], rng,
        scans=[
            ([0], 0, 0, 0, 3), ([0], 0, 0, 3, 2), ([0], 0, 0, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 20, 0, 1), ([0], 21, 63, 0, 1), ([0], 1, 63, 1, 0),
        ],
    )
    assert np.array_equal(decode_jpeg(base), decode_jpeg(prog))


def test_resize_image_routes_progressive_jpeg(spark):
    """The DecodeUnavailable gate no longer covers still images at all:
    a progressive payload decodes inside resize_image (decoded=true)."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.binary import (
        resize_image,
    )
    from automated_property_data_ingestion_document_pipeline_spark.sources.png import (
        decode_png,
        resize_nearest,
    )

    rng = np.random.default_rng(17)
    blocks = [_rng_coeffs(rng) for _ in range(4)]
    payload = encode_jpeg_progressive_from_coeffs(16, 16, [blocks])
    expect_px = decode_jpeg(payload)
    df = spark.createDataFrame([(1, payload)], "doc_id bigint, content binary")
    row = resize_image(df, target_h=8, target_w=8).collect()[0]
    assert row["decoded"]
    assert np.array_equal(
        decode_png(bytes(row["content"])), resize_nearest(expect_px, 8, 8)
    )


def test_fuzz_progressive_streams_stay_typed():
    """Same typed-error contract as baseline: 600 mutated progressive
    streams (uniform + SOS/SOF-header-targeted) may only succeed or
    raise JpegUnsupported."""
    rng = np.random.default_rng(131)
    blocks = [_rng_coeffs(rng) for _ in range(4)]
    base = bytearray(encode_jpeg_progressive_from_coeffs(16, 16, [blocks]))
    sof = bytes(base).find(b"\xff\xc2")
    hot = list(range(sof + 2, sof + 14))
    i = bytes(base).find(b"\xff\xda")
    while i >= 0:  # every SOS header: ns, comp specs, Ss/Se/AhAl bytes
        hot += list(range(i + 2, min(i + 9, len(base))))
        i = bytes(base).find(b"\xff\xda", i + 2)
    for t in range(600):
        data = bytearray(base)
        if t % 2 == 0:
            for _ in range(rng.integers(1, 4)):
                data[hot[rng.integers(0, len(hot))]] = rng.integers(0, 256)
        else:
            for _ in range(rng.integers(1, 8)):
                op = rng.integers(0, 3)
                if op == 0:
                    data[rng.integers(2, len(data))] = rng.integers(0, 256)
                elif op == 1 and len(data) > 8:
                    data = data[: rng.integers(4, len(data))]
                else:
                    data.insert(
                        int(rng.integers(2, len(data))), int(rng.integers(0, 256))
                    )
        try:
            decode_jpeg(bytes(data))
        except JpegUnsupported:
            pass


def test_ac_refine_guards_already_set_correction_bit():
    """r06 advice: T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine only
    applies a correction bit when (coef & bit) == 0 — a hostile stream
    whose history already carries the bit must not corrupt the
    coefficient. Exercised directly on the EOB-tail correction loop
    (no Huffman table needed when eob > 0)."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.jpeg import _ac_refine

    class _OnesReader:
        def bit(self):
            return 1

        def bits(self, n):
            return (1 << n) - 1

    blk = np.zeros(64, dtype=np.int32)
    blk[1] = 3    # bit 1 already set -> guard must skip (was 3 -> 5 before fix)
    blk[2] = 1    # bit 1 clear -> correction applies: 1 -> 3
    blk[3] = -2   # negative with bit set in two's complement -> skip
    blk[4] = -3   # negative, bit clear (-3 & 2 == 0, libjpeg semantics) -> -3 -> -5
    eob = [1]
    _ac_refine(_OnesReader(), blk, table=None, ss=1, se=5, al=1, eob=eob)
    assert blk[1] == 3
    assert blk[2] == 3
    assert blk[3] == -2
    assert blk[4] == -5
    assert eob == [0]
