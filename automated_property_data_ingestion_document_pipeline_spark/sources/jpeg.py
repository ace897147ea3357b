"""Pure-stdlib baseline JPEG codec (VERDICT r04 stretch #8): closes the
last multimodal decode format the container's missing libraries kept
behind ``DecodeUnavailable``. Like sources/png.py, the decoder is the
operator-facing surface and the encoder exists to build fixtures and
round-trip tests — no PIL, no libjpeg; the whole path is ITU T.81
baseline sequential implemented on stdlib ``struct`` + numpy.

Scope (everything else raises ``JpegUnsupported`` so callers fall
through to the typed ``DecodeUnavailable`` gate, never garbage pixels):

- baseline sequential DCT (SOF0), 8-bit samples;
- 1 component (grayscale) or 3 components (JFIF YCbCr);
- arbitrary sampling factors via the generic MCU interleave (4:4:4,
  4:2:0, 4:2:2 all decode through the same loop); chroma upsampling is
  SAMPLE REPLICATION (T.81 leaves the filter open — this choice is part
  of the decoder's documented contract and what the pixel-exact tests
  replicate);
- restart markers (DRI/RSTn): bit reader and DC predictors reset;
- progressive DCT (SOF2, r06): full spectral selection + successive
  approximation per T.81 G.1.2 — interleaved/non-interleaved DC first
  and refinement scans, per-component AC band scans with EOB runs, AC
  refinement with correction bits; coefficients accumulate across
  scans and reconstruct through the same dequant/IDCT/upsample tail as
  baseline, so a progressive re-packaging of the same quantized
  coefficients is pixel-identical to its baseline encoding (the test
  oracle);
- arithmetic coding, 12-bit, and hierarchical modes are out of scope →
  ``JpegUnsupported``.

Determinism contract: dequantization and IDCT run in float64 with a
fixed separable cosine-matrix formulation, then ``round → clip 0..255``.
The fixture tests drive the decoder from HAND-CHOSEN quantized
coefficients (written by :func:`encode_jpeg_from_coeffs`) and compare
against an INDEPENDENT direct-sum IDCT — proving marker parsing, Huffman
decode, dequantize, zigzag, IDCT, upsampling, and color conversion
end-to-end at pixel exactness, the same arithmetic-oracle methodology as
the PNG/video/PCM lanes (PERFORMANCE.md §47).
"""

from __future__ import annotations

import struct

import numpy as np


# Refuse frames claiming more pixels than this before allocating planes:
# a ~100-byte payload claiming 65535x65535 would otherwise reserve ~34 GB
# of float64 zeros per component inside an executor.  64 MP comfortably
# covers any document-pipeline scan (reference uploads are <10 MP).
_MAX_PIXELS = 1 << 26


class JpegUnsupported(ValueError):
    """Payload is not a JPEG this codec handles (progressive, 12-bit,
    arithmetic-coded, CMYK, truncated, ...)."""


# ITU T.81 Figure A.6 zigzag: ZIGZAG[k] = (row, col) of the k-th
# coefficient in scan order.
_ZZ = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Separable IDCT basis: _IDCT_A[u, x] = C(u)/2 * cos((2x+1) u pi / 16);
# block = A.T @ coeffs @ A.
_IDCT_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0) / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.float64,
)

# Annex K.3 typical Huffman tables, (bits[1..16], values) — used by the
# fixture encoder; the decoder always reads DHT from the stream.
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# Annex K.1/K.2 example quantization tables (quality ~50), natural order.
STD_QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
STD_QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitReader:
    """MSB-first entropy-coded-segment reader with 0xFF00 de-stuffing;
    stops at any non-stuffed marker (caller handles RST/EOI)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise JpegUnsupported("truncated entropy-coded data")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise JpegUnsupported("marker inside entropy segment")
        else:
            self.pos += 1
        # mask consumed high bits so the accumulator stays one machine
        # word instead of growing into an O(stream) bigint
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> None:
        """Drop partial byte and consume an expected RST marker."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF:
            m = self.data[self.pos + 1]
            if 0xD0 <= m <= 0xD7:
                self.pos += 2
                return
        raise JpegUnsupported("expected restart marker")


def _decode_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise JpegUnsupported("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.12: map `size` raw bits to the signed coefficient."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def idct_block(coeffs: np.ndarray) -> np.ndarray:
    """Float64 separable IDCT of one 8x8 coefficient block (no level
    shift) — the decoder's fixed deterministic formulation."""
    return _IDCT_A.T @ coeffs.astype(np.float64) @ _IDCT_A


def _to_pixels(plane: np.ndarray) -> np.ndarray:
    return np.clip(np.round(plane + 128.0), 0, 255).astype(np.uint8)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to HxWxC uint8 (C=1 gray, C=3 RGB).

    Contract: ANY malformed/unsupported payload raises
    ``JpegUnsupported`` — never a bare IndexError/struct.error/
    ValueError/ZeroDivisionError — so the pipeline's pass-through gates
    stay typed (fuzzed over 5k mutated and garbage streams in
    tests/test_jpeg.py).  The wrapper is belt-and-braces: the parse
    path also validates sampling nibbles, component-field slice
    lengths, and claimed dimensions up front."""
    try:
        return _decode_jpeg_impl(data)
    except JpegUnsupported:
        raise
    except (IndexError, struct.error, ValueError, ZeroDivisionError) as e:
        raise JpegUnsupported(f"malformed stream: {e}") from e


def _decode_jpeg_impl(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise JpegUnsupported("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    prog_coef: dict[int, np.ndarray] = {}
    prog_scans = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegUnsupported("marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        if marker == 0xD9:  # EOI before any SOS
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if seglen < 2:
            raise JpegUnsupported("invalid segment length")
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise JpegUnsupported("truncated segment")
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise JpegUnsupported("16-bit quantization table")
                q = np.zeros((8, 8), dtype=np.int32)
                for k in range(64):
                    q[_ZZ[k]] = body[b + 1 + k]
                qtables[tq] = q
                b += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            precision = body[0]
            if precision != 8:
                raise JpegUnsupported("non-8-bit precision")
            h, w = struct.unpack(">HH", body[1:5])
            if h == 0 or w == 0:
                # h==0 means DNL-deferred height (T.81 B.2.2) — out of scope.
                raise JpegUnsupported("zero frame dimension")
            if h * w > _MAX_PIXELS:
                raise JpegUnsupported(f"frame {h}x{w} exceeds pixel cap")
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise JpegUnsupported(f"{ncomp}-component image")
            if len(body) < 6 + 3 * ncomp:
                raise JpegUnsupported("truncated SOF component list")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                hs, vs = hv >> 4, hv & 0x0F
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise JpegUnsupported(f"sampling factor {hs}x{vs} out of range")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if any(hmax % c["h"] or vmax % c["v"] for c in comps):
                # replication upsampling needs integral ratios (covers
                # every JFIF layout: 4:4:4 / 4:2:2 / 4:2:0 / 4:1:1)
                raise JpegUnsupported("non-integral sampling ratio")
            frame = {"h": h, "w": w, "comps": comps, "prog": marker == 0xC2}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegUnsupported(f"unsupported frame marker 0xFF{marker:02X}")
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                values = list(body[b + 17 : b + 17 + n])
                if len(bits) < 16 or len(values) < n:
                    raise JpegUnsupported("truncated DHT segment")
                huff[(tc, th)] = {
                    (c, ln): sym for sym, (c, ln) in _canonical_codes(bits, values).items()
                }
                b += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegUnsupported("SOS before SOF")
            ns = body[0]
            if not frame["prog"] and ns != len(frame["comps"]):
                # T.81 allows per-component BASELINE scans (always
                # non-interleaved, MCU = one block, different geometry
                # than this loop); refuse rather than mis-decode.
                raise JpegUnsupported("multi-scan baseline (non-interleaved)")
            if len(body) < 4 + 2 * ns:
                raise JpegUnsupported("truncated SOS component list")
            scan = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i : 3 + 2 * i]
                matches = [c for c in frame["comps"] if c["id"] == cs]
                if not matches:
                    raise JpegUnsupported(f"scan references unknown component {cs}")
                scan.append((matches[0], tdta >> 4, tdta & 0x0F))
            if frame["prog"]:
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                pos = _decode_prog_scan(
                    data, pos + 2 + seglen, frame, scan,
                    ss, se, ahal >> 4, ahal & 0x0F,
                    huff, restart_interval, prog_coef,
                )
                prog_scans += 1
                continue
            return _decode_scan(
                data, pos + 2 + seglen, frame, scan, qtables, huff, restart_interval
            )
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    if frame is not None and frame["prog"] and prog_scans:
        # EOI reached (in-loop break, or as the final two bytes which
        # the `pos + 4` guard never re-enters for): reconstruct from
        # the accumulated coefficients.
        return _reconstruct_progressive(frame, qtables, prog_coef)
    raise JpegUnsupported("no SOS found")


def _decode_scan(data, pos, frame, scan, qtables, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    comps = [c for c, _, _ in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    blocks_per_mcu = sum(c["h"] * c["v"] for c in comps)
    # Plausibility gate: every coded block costs >=2 bits (1-bit DC code
    # + 1-bit EOB), so a stream whose remaining bytes cannot possibly
    # hold the claimed MCU grid is malformed — refuse before allocating.
    min_bits = mcus_x * mcus_y * blocks_per_mcu * 2
    if min_bits > 8 * max(0, len(data) - pos):
        raise JpegUnsupported("entropy data shorter than claimed MCU grid")
    planes = {
        c["id"]: np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in comps
    }
    reader = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.align_to_marker()
                pred = {c["id"]: 0 for c in comps}
            for comp, td, ta in scan:
                dc_tab = huff.get((0, td))
                ac_tab = huff.get((1, ta))
                if dc_tab is None or ac_tab is None:
                    raise JpegUnsupported("missing Huffman table")
                q = qtables.get(comp["tq"])
                if q is None:
                    raise JpegUnsupported("missing quantization table")
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coeffs = np.zeros((8, 8), dtype=np.int64)
                        size = _decode_huff(reader, dc_tab)
                        if size > 11:
                            raise JpegUnsupported("DC size out of range")
                        diff = _extend(reader.bits(size), size)
                        pred[comp["id"]] += diff
                        coeffs[0, 0] = pred[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(reader, ac_tab)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise JpegUnsupported("AC index overflow")
                            coeffs[_ZZ[k]] = _extend(reader.bits(s), s)
                            k += 1
                        block = idct_block(coeffs * q)
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1
    # upsample by replication to full-resolution planes, crop to (h, w)
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    return _planes_to_image(out_planes)


def _planes_to_image(out_planes: list[np.ndarray]) -> np.ndarray:
    """Shared tail of baseline and progressive decode: level shift +
    JFIF color conversion on full-resolution cropped planes."""
    if len(out_planes) == 1:
        return _to_pixels(out_planes[0])[:, :, None]
    y, cb, cr = out_planes
    # JFIF YCbCr -> RGB (levels already shifted: y in [-128,127] + 128)
    yf = y + 128.0
    r = yf + 1.402 * cr
    g = yf - 0.344136 * cb - 0.714136 * cr
    b = yf + 1.772 * cb
    rgb = np.stack(
        [np.clip(np.round(ch), 0, 255).astype(np.uint8) for ch in (r, g, b)], axis=-1
    )
    return rgb


# --- progressive (SOF2) scan machinery (T.81 G.1.2) -------------------
#
# Coefficients accumulate in ZIGZAG order, one int64[64] vector per
# block, allocated on the frame's full interleaved MCU grid (so an
# interleaved DC scan and the per-component AC scans index the same
# storage).  Each SOS decodes into this state; reconstruction after EOI
# runs the SAME dequant/IDCT/upsample/color tail as the baseline path.


def _frame_mcu_grid(frame) -> tuple[int, int, int, int]:
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcus_x, mcus_y


def _nonint_blocks(frame, comp) -> tuple[int, int]:
    """Block grid (bh, bw) of one component for a NON-interleaved scan
    (T.81 A.2.2: ceil of the scaled component dims, NOT the MCU grid —
    trailing MCU-padding blocks are not coded in such scans)."""
    hmax, vmax, _, _ = _frame_mcu_grid(frame)
    cw = -(-frame["w"] * comp["h"] // hmax)
    ch = -(-frame["h"] * comp["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _prog_block(coef, frame, comp) -> np.ndarray:
    cid = comp["id"]
    if cid not in coef:
        _, _, mcus_x, mcus_y = _frame_mcu_grid(frame)
        coef[cid] = np.zeros(
            (mcus_y * comp["v"], mcus_x * comp["h"], 64), dtype=np.int64
        )
    return coef[cid]


def _dc_unit(reader, blk, table, pred, cid, ah, al) -> None:
    if ah == 0:
        if table is None:
            raise JpegUnsupported("missing Huffman table")
        size = _decode_huff(reader, table)
        if size > 11:
            raise JpegUnsupported("DC size out of range")
        pred[cid] += _extend(reader.bits(size), size)
        blk[0] = pred[cid] << al
    elif reader.bit():
        # two's-complement bit fill (T.81 G.1.2.1); Python's infinite-
        # precision OR gives the correct negative-value semantics.
        blk[0] = int(blk[0]) | (1 << al)


def _ac_first(reader, blk, table, ss, se, al, eob) -> None:
    if eob[0] > 0:
        eob[0] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huff(reader, table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:  # EOBn: run of (1<<r)+bits(r) all-done blocks
                eob[0] = (1 << r) - 1
                if r:
                    eob[0] += reader.bits(r)
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise JpegUnsupported("AC index overflow")
            blk[k] = _extend(reader.bits(s), s) << al
            k += 1


def _ac_refine(reader, blk, table, ss, se, al, eob) -> None:
    """T.81 G.1.2.3 successive-approximation AC refinement: one
    correction bit per already-nonzero coefficient, RS codes place the
    newly-nonzero ones, EOB runs cover correction-only blocks."""
    bit = 1 << al
    k = ss
    if eob[0] == 0:
        while k <= se:
            rs = _decode_huff(reader, table)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eob[0] = 1 << r
                    if r:
                        eob[0] += reader.bits(r)
                    break  # tail below corrects the rest of this block
                # ZRL: skip 16 zero-history coefficients
            elif s == 1:
                val = bit if reader.bit() else -bit
            else:
                raise JpegUnsupported("bad refinement magnitude")
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    # (c & bit)==0 guard per T.81 G.1.2.3 / libjpeg
                    # decode_mcu_AC_refine: a hostile stream whose history
                    # already has this bit set must not corrupt the
                    # coefficient (r06 advice; two's-complement & matches
                    # C semantics for negative c).
                    if reader.bit() and (c & bit) == 0:
                        blk[k] = c + (bit if c > 0 else -bit)
                else:
                    if r == 0:
                        if val:
                            blk[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eob[0] > 0:
        while k <= se:  # correction bits for the remaining nonzeros
            c = int(blk[k])
            if c != 0 and reader.bit() and (c & bit) == 0:
                blk[k] = c + (bit if c > 0 else -bit)
            k += 1
        eob[0] -= 1


def _next_marker(data: bytes, pos: int) -> int:
    """Position of the first non-stuffed marker at/after ``pos`` (skips
    0xFF00 stuffing and 0xFF fill bytes)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF:
            nxt = data[pos + 1]
            if nxt == 0x00:
                pos += 2
                continue
            if nxt == 0xFF:
                pos += 1
                continue
            return pos
        pos += 1
    raise JpegUnsupported("no marker after scan data")


def _decode_prog_scan(
    data, pos, frame, scan, ss, se, ah, al, huff, restart_interval, coef
) -> int:
    """Decode one progressive scan into ``coef``; returns the position
    of the marker that follows the entropy-coded data."""
    if ss == 0:
        if se != 0:
            raise JpegUnsupported("DC scan with nonzero Se")
    else:
        if len(scan) != 1:
            raise JpegUnsupported("interleaved AC scan")
        if not (ss <= se <= 63):
            raise JpegUnsupported("bad spectral band")
    if (ah != 0 and ah != al + 1) or al > 13:
        raise JpegUnsupported("bad successive approximation")
    reader = _BitReader(data, pos)
    eob = [0]
    if ss == 0 and len(scan) > 1:
        # interleaved DC scan over the frame MCU grid
        _, _, mcus_x, mcus_y = _frame_mcu_grid(frame)
        units = mcus_x * mcus_y
        if units > 8 * max(0, len(data) - pos):
            raise JpegUnsupported("entropy data shorter than claimed MCU grid")
        pred = {c["id"]: 0 for c, _, _ in scan}
        arrs = {c["id"]: _prog_block(coef, frame, c) for c, _, _ in scan}
        mcu = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    reader.align_to_marker()
                    pred = {c["id"]: 0 for c, _, _ in scan}
                for comp, td, _ta in scan:
                    table = huff.get((0, td)) if ah == 0 else None
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            blk = arrs[comp["id"]][
                                my * comp["v"] + by, mx * comp["h"] + bx
                            ]
                            _dc_unit(reader, blk, table, pred, comp["id"], ah, al)
                mcu += 1
    else:
        comp, td, ta = scan[0]
        bh, bw = _nonint_blocks(frame, comp)
        if bh * bw > 8 * max(0, len(data) - pos):
            raise JpegUnsupported("entropy data shorter than claimed MCU grid")
        if ss == 0:
            table = huff.get((0, td)) if ah == 0 else None
        else:
            table = huff.get((1, ta))
            if table is None:
                raise JpegUnsupported("missing Huffman table")
        pred = {comp["id"]: 0}
        arr = _prog_block(coef, frame, comp)
        unit = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and unit and unit % restart_interval == 0:
                    reader.align_to_marker()
                    pred = {comp["id"]: 0}
                    eob[0] = 0
                blk = arr[by, bx]
                if ss == 0:
                    _dc_unit(reader, blk, table, pred, comp["id"], ah, al)
                elif ah == 0:
                    _ac_first(reader, blk, table, ss, se, al, eob)
                else:
                    _ac_refine(reader, blk, table, ss, se, al, eob)
                unit += 1
    return _next_marker(data, reader.pos)


def _reconstruct_progressive(frame, qtables, coef) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    hmax, vmax, mcus_x, mcus_y = _frame_mcu_grid(frame)
    out_planes = []
    for c in frame["comps"]:
        q = qtables.get(c["tq"])
        if q is None:
            raise JpegUnsupported("missing quantization table")
        arr = coef.get(c["id"])
        if arr is None:  # component never covered by any scan
            arr = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
        by, bx = arr.shape[:2]
        plane = np.zeros((by * 8, bx * 8), dtype=np.float64)
        nat = np.zeros((8, 8), dtype=np.int64)
        for yy in range(by):
            for xx in range(bx):
                zz = arr[yy, xx]
                for k in range(64):
                    nat[_ZZ[k]] = zz[k]
                plane[yy * 8 : yy * 8 + 8, xx * 8 : xx * 8 + 8] = idct_block(nat * q)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:h, :w])
    return _planes_to_image(out_planes)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _size_cat(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _amplitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _encode_block(wtr, coeffs, pred, dc_codes, ac_codes) -> int:
    """Entropy-encode one 8x8 quantized coefficient block (natural
    order); returns the new DC predictor."""
    dc = int(coeffs[0, 0])
    diff = dc - pred
    size = _size_cat(diff)
    code, ln = dc_codes[size]
    wtr.write(code, ln)
    if size:
        wtr.write(_amplitude(diff, size) & ((1 << size) - 1), size)
    run = 0
    last_nz = 0
    zz = [int(coeffs[_ZZ[k]]) for k in range(64)]
    for k in range(63, 0, -1):
        if zz[k] != 0:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        size = _size_cat(v)
        code, ln = ac_codes[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(_amplitude(v, size) & ((1 << size) - 1), size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        wtr.write(code, ln)
    return dc


def _marker(tag: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, tag, len(body) + 2) + body


def _dqt_segment(tables: list[tuple[int, np.ndarray]]) -> bytes:
    body = b""
    for tq, q in tables:
        body += bytes([tq]) + bytes(int(q[_ZZ[k]]) for k in range(64))
    return _marker(0xDB, body)


def _dht_segment(tables: list[tuple[int, int, tuple[list[int], list[int]]]]) -> bytes:
    body = b""
    for tc, th, (bits, values) in tables:
        body += bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
    return _marker(0xC4, body)


def encode_jpeg_from_coeffs(
    h: int,
    w: int,
    comp_coeffs: list[list[np.ndarray]],
    sampling: list[tuple[int, int]] | None = None,
    qt_luma: np.ndarray = STD_QT_LUMA,
    qt_chroma: np.ndarray = STD_QT_CHROMA,
    restart_interval: int = 0,
) -> bytes:
    """Fixture writer: emit a valid baseline JPEG whose entropy-coded
    data encodes EXACTLY the given quantized coefficient blocks
    (natural-order 8x8 int arrays, one list per component, blocks in
    MCU-interleave order). 1 comp = grayscale, 3 = YCbCr. This is the
    ground-truth side of the pixel-exact decoder tests: the expected
    image is pure math on these coefficients, never another codec."""
    ncomp = len(comp_coeffs)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    sampling = sampling or [(1, 1)] * ncomp
    out = bytearray(b"\xff\xd8")  # SOI
    qts = [(0, qt_luma)] + ([(1, qt_chroma)] if ncomp == 3 else [])
    out += _dqt_segment(qts)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        hv = (sampling[i][0] << 4) | sampling[i][1]
        sof += bytes([i + 1, hv, 0 if i == 0 else 1])
    out += _marker(0xC0, sof)
    hts = [(0, 0, _STD_DC_LUMA), (1, 0, _STD_AC_LUMA)]
    if ncomp == 3:
        hts += [(0, 1, _STD_DC_CHROMA), (1, 1, _STD_AC_CHROMA)]
    out += _dht_segment(hts)
    if restart_interval:
        out += _marker(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for i in range(ncomp):
        td_ta = 0x00 if i == 0 else 0x11
        sos += bytes([i + 1, td_ta])
    sos += bytes([0, 63, 0])
    out += _marker(0xDA, sos)
    dc_luma = _canonical_codes(*_STD_DC_LUMA)
    ac_luma = _canonical_codes(*_STD_AC_LUMA)
    dc_chroma = _canonical_codes(*_STD_DC_CHROMA)
    ac_chroma = _canonical_codes(*_STD_AC_CHROMA)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    wtr = _BitWriter()
    preds = [0] * ncomp
    idx = [0] * ncomp
    rst = 0
    for mcu in range(mcus_y * mcus_x):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = [0] * ncomp
        for ci in range(ncomp):
            n_blocks = sampling[ci][0] * sampling[ci][1]
            dc_c = dc_luma if ci == 0 else dc_chroma
            ac_c = ac_luma if ci == 0 else ac_chroma
            for _b in range(n_blocks):
                preds[ci] = _encode_block(
                    wtr, comp_coeffs[ci][idx[ci]], preds[ci], dc_c, ac_c
                )
                idx[ci] += 1
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# Custom AC Huffman table for PROGRESSIVE fixture scans: the standard
# tables carry no EOBn symbols (r>0, s=0), which libjpeg only emits from
# per-file optimized tables.  A flat one-length canonical table with
# every symbol the progressive encoder can produce — EOB0..EOB14, ZRL,
# and (r,s) for r 0..15 / s 1..10 — is spec-valid (176 codes of length
# 8; the all-ones code stays unused per T.81 Annex K).
_PROG_AC_SYMS = (
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_TABLE = ([0] * 7 + [len(_PROG_AC_SYMS)] + [0] * 8, _PROG_AC_SYMS)


def _pt_ac(v: int, al: int) -> int:
    """T.81 point transform for AC coefficients: sign-magnitude shift
    (magnitude divided by 2^al, truncated toward zero)."""
    return (abs(v) >> al) * (1 if v >= 0 else -1)


def _grids_from_interleave(comp_coeffs, sampling, mcus_x, mcus_y):
    """Re-shape per-component block lists from MCU-interleave order
    (the layout `encode_jpeg_from_coeffs` takes) into 2D block grids."""
    grids = []
    for ci, blocks in enumerate(comp_coeffs):
        hs, vs = sampling[ci]
        grid = [[None] * (mcus_x * hs) for _ in range(mcus_y * vs)]
        idx = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for by in range(vs):
                    for bx in range(hs):
                        if idx >= len(blocks):
                            raise ValueError("not enough blocks for MCU grid")
                        grid[my * vs + by][mx * hs + bx] = blocks[idx]
                        idx += 1
        grids.append(grid)
    return grids


def _zz_vec(block: np.ndarray) -> list[int]:
    return [int(block[_ZZ[k]]) for k in range(64)]


class _EobRun:
    """Encoder-side EOB-run accumulator: in refinement scans the
    correction bits of every block inside the run follow the single
    EOBn code (mirroring the decoder's per-block tail reads)."""

    def __init__(self, wtr, ac_codes):
        self.wtr = wtr
        self.ac = ac_codes
        self.run = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.run == 0:
            return
        if self.run > 32767:
            raise ValueError("EOB run too long for a single EOBn code")
        r = self.run.bit_length() - 1
        code, ln = self.ac[r << 4]
        self.wtr.write(code, ln)
        if r:
            self.wtr.write(self.run - (1 << r), r)
        for b in self.bits:
            self.wtr.write(b, 1)
        self.run = 0
        self.bits = []


def _enc_ac_first_block(wtr, zz, ss, se, al, ac_codes, eob: _EobRun) -> None:
    band = [_pt_ac(zz[k], al) for k in range(ss, se + 1)]
    last_nz = -1
    for i in range(len(band) - 1, -1, -1):
        if band[i] != 0:
            last_nz = i
            break
    if last_nz < 0:
        eob.run += 1
        return
    eob.flush()
    run = 0
    for i in range(last_nz + 1):
        v = band[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            wtr.write(code, ln)
            run -= 16
        s = _size_cat(v)
        code, ln = ac_codes[(run << 4) | s]
        wtr.write(code, ln)
        wtr.write(_amplitude(v, s) & ((1 << s) - 1), s)
        run = 0
    if last_nz < len(band) - 1:
        eob.run += 1


def _enc_ac_refine_block(wtr, zz, ss, se, al, ac_codes, eob: _EobRun) -> None:
    cur = [_pt_ac(zz[k], al) for k in range(ss, se + 1)]
    hist = [_pt_ac(zz[k], al + 1) for k in range(ss, se + 1)]
    newly = [i for i in range(len(cur)) if hist[i] == 0 and cur[i] != 0]
    if not newly:
        eob.run += 1
        eob.bits.extend(abs(cur[i]) & 1 for i in range(len(cur)) if hist[i] != 0)
        return
    eob.flush()
    last_new = newly[-1]
    # Positional event stream mirrors the decoder's walk exactly: a
    # correction bit emitted the moment the walk passes a history-
    # nonzero coefficient, zero-history zeros advancing the run.  On a
    # ZRL split, only the bits positioned before the 16th zero follow
    # that ZRL; the rest carry to the next code (T.81 G.1.2.3).
    events: list[tuple[str, int]] = []  # ("z", 0) or ("c", bit)
    for i in range(last_new + 1):
        if hist[i] != 0:
            events.append(("c", abs(cur[i]) & 1))
        elif cur[i] != 0:
            zeros = sum(1 for e in events if e[0] == "z")
            j = 0
            while zeros > 15:
                code, ln = ac_codes[0xF0]
                wtr.write(code, ln)
                consumed = 0
                while consumed < 16:
                    kind, b = events[j]
                    j += 1
                    if kind == "c":
                        wtr.write(b, 1)
                    else:
                        consumed += 1
                zeros -= 16
            code, ln = ac_codes[(zeros << 4) | 1]
            wtr.write(code, ln)
            wtr.write(1 if cur[i] > 0 else 0, 1)
            for kind, b in events[j:]:
                if kind == "c":
                    wtr.write(b, 1)
            events = []
        else:
            events.append(("z", 0))
    if last_new < len(cur) - 1:
        eob.run = 1
        eob.bits = [
            abs(cur[i]) & 1 for i in range(last_new + 1, len(cur)) if hist[i] != 0
        ]


def encode_jpeg_progressive_from_coeffs(
    h: int,
    w: int,
    comp_coeffs: list[list[np.ndarray]],
    sampling: list[tuple[int, int]] | None = None,
    scans: list[tuple[list[int], int, int, int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Fixture writer for PROGRESSIVE (SOF2) streams: same coefficient
    layout as :func:`encode_jpeg_from_coeffs`, re-packaged through a
    scan script of ``(comp_indices, Ss, Se, Ah, Al)`` tuples.  Because
    the coefficients are identical, the decode of this stream must be
    pixel-identical to the baseline encoding — the progressive-decoder
    test oracle.  ``restart_interval`` applies to every scan."""
    ncomp = len(comp_coeffs)
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 components")
    sampling = sampling or [(1, 1)] * ncomp
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    grids = _grids_from_interleave(comp_coeffs, sampling, mcus_x, mcus_y)
    if scans is None:
        everyone = list(range(ncomp))
        scans = [(everyone, 0, 0, 0, 1), (everyone, 0, 0, 1, 0)]
        for ci in range(ncomp):
            scans += [
                ([ci], 1, 5, 0, 2),
                ([ci], 6, 63, 0, 2),
                ([ci], 1, 63, 2, 1),
                ([ci], 1, 63, 1, 0),
            ]
    out = bytearray(b"\xff\xd8")
    qts = [(0, STD_QT_LUMA)] + ([(1, STD_QT_CHROMA)] if ncomp == 3 else [])
    out += _dqt_segment(qts)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        hv = (sampling[i][0] << 4) | sampling[i][1]
        sof += bytes([i + 1, hv, 0 if i == 0 else 1])
    out += _marker(0xC2, sof)
    hts = [(0, 0, _STD_DC_LUMA), (1, 0, _PROG_AC_TABLE)]
    if ncomp == 3:
        hts += [(0, 1, _STD_DC_CHROMA)]
    out += _dht_segment(hts)
    if restart_interval:
        out += _marker(0xDD, struct.pack(">H", restart_interval))
    dc_codes = [
        _canonical_codes(*_STD_DC_LUMA),
        _canonical_codes(*_STD_DC_CHROMA),
        _canonical_codes(*_STD_DC_CHROMA),
    ]
    ac_codes = _canonical_codes(*_PROG_AC_TABLE)

    def comp_grid_dims(ci: int) -> tuple[int, int]:
        cw = -(-w * sampling[ci][0] // hmax)
        ch = -(-h * sampling[ci][1] // vmax)
        return -(-ch // 8), -(-cw // 8)

    for comp_idxs, ss, se, ah, al in scans:
        sos = bytes([len(comp_idxs)])
        for ci in comp_idxs:
            td = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (td << 4) | 0])  # Ta always table 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += _marker(0xDA, sos)
        wtr = _BitWriter()
        rst = 0

        def emit_rst():
            nonlocal rst
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8

        if ss == 0 and len(comp_idxs) > 1:
            preds = {ci: 0 for ci in comp_idxs}
            mcu = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and mcu and mcu % restart_interval == 0:
                        emit_rst()
                        preds = {ci: 0 for ci in comp_idxs}
                    for ci in comp_idxs:
                        hs, vs = sampling[ci]
                        for by in range(vs):
                            for bx in range(hs):
                                dc = int(grids[ci][my * vs + by][mx * hs + bx][0, 0])
                                if ah == 0:
                                    v = dc >> al  # arithmetic shift (floor)
                                    diff = v - preds[ci]
                                    preds[ci] = v
                                    s = _size_cat(diff)
                                    code, ln = dc_codes[ci][s]
                                    wtr.write(code, ln)
                                    if s:
                                        wtr.write(
                                            _amplitude(diff, s) & ((1 << s) - 1), s
                                        )
                                else:
                                    wtr.write((dc >> al) & 1, 1)
                    mcu += 1
        else:
            (ci,) = comp_idxs if len(comp_idxs) == 1 else (comp_idxs[0],)
            bh, bw = comp_grid_dims(ci)
            pred = 0
            eob = _EobRun(wtr, ac_codes)
            unit = 0
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and unit and unit % restart_interval == 0:
                        eob.flush()
                        emit_rst()
                        pred = 0
                    blk = grids[ci][by][bx]
                    if ss == 0:
                        dc = int(blk[0, 0])
                        if ah == 0:
                            v = dc >> al
                            diff = v - pred
                            pred = v
                            s = _size_cat(diff)
                            code, ln = dc_codes[ci][s]
                            wtr.write(code, ln)
                            if s:
                                wtr.write(_amplitude(diff, s) & ((1 << s) - 1), s)
                        else:
                            wtr.write((dc >> al) & 1, 1)
                    else:
                        zz = _zz_vec(blk)
                        if ah == 0:
                            _enc_ac_first_block(wtr, zz, ss, se, al, ac_codes, eob)
                        else:
                            _enc_ac_refine_block(wtr, zz, ss, se, al, ac_codes, eob)
                    unit += 1
            eob.flush()
        wtr.flush()
        out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


