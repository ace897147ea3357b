"""Standard security handler for PDF encryption — stdlib only.

AES runs through OpenSSL's EVP when the libcrypto CPython already
links is ctypes-loadable (finding 102; ~185x on the V5 KDF), with the
pure-Python T-table cipher as the always-present reference
implementation and fallback — both pinned byte-identical by KATs.

Implements the PUBLIC ISO 32000-1 §7.6.2–7.6.4 algorithms the
document-ingest surface needs to read the common "protected" scanned
property report: RC4 (40- and 128-bit, /V 1–2, /R 2–3), AES-128-CBC
(/V 4 /R 4, crypt filter /AESV2), and — r10, from the public ISO
32000-2 §7.6.4.3 Algorithms 2.A/2.B — AES-256 (/V 5 /R 5–6, crypt
filter /AESV3, SHA-2 iterated hash), all with the EMPTY USER PASSWORD:
the ubiquitous owner-restrictions-only case. Anything needing a real
password stays a typed refusal in the extractor (pdf_sink.py): honest
quarantine, not silent garbage.

Everything here is deterministic and side-effect free so writer
fixtures remain pure functions of their inputs (the determinism
contract every codec writer in sources/ carries): the AES CBC IV is
supplied by the caller, never drawn from a RNG.

Reference parity anchor: the reference app's PDF artifact surface
(real_estate_backend/report_generator.py:92-103) — third parties
re-encrypt those reports; reading them back is part of S8's read half
(SURVEY.md §2.1 S8).

Algorithm numbers below are ISO 32000-1:2008 §7.6.3.3–7.6.3.5
(Algorithms 1, 2, 3, 4, 5) — public specification text.
"""

from __future__ import annotations

import hashlib

# §7.6.3.3 Algorithm 2 step (a): the 32-byte password pad string.
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _pad_password(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


# --------------------------------------------------------------------------
# RC4 (public algorithm; 40- and 128-bit keys per /V 1-2)
# --------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 stream cipher (encrypt == decrypt)."""
    if not key:
        raise ValueError("empty RC4 key")  # _stream_body retypes ValueError
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------------
# AES-128 (FIPS-197) — block primitives + CBC with PKCS#7, decrypt AND
# encrypt (the writer fixture needs the forward direction)
# --------------------------------------------------------------------------

_SBOX = [
    0x63, 0x7C, 0x77, 0x7B, 0xF2, 0x6B, 0x6F, 0xC5, 0x30, 0x01, 0x67, 0x2B,
    0xFE, 0xD7, 0xAB, 0x76, 0xCA, 0x82, 0xC9, 0x7D, 0xFA, 0x59, 0x47, 0xF0,
    0xAD, 0xD4, 0xA2, 0xAF, 0x9C, 0xA4, 0x72, 0xC0, 0xB7, 0xFD, 0x93, 0x26,
    0x36, 0x3F, 0xF7, 0xCC, 0x34, 0xA5, 0xE5, 0xF1, 0x71, 0xD8, 0x31, 0x15,
    0x04, 0xC7, 0x23, 0xC3, 0x18, 0x96, 0x05, 0x9A, 0x07, 0x12, 0x80, 0xE2,
    0xEB, 0x27, 0xB2, 0x75, 0x09, 0x83, 0x2C, 0x1A, 0x1B, 0x6E, 0x5A, 0xA0,
    0x52, 0x3B, 0xD6, 0xB3, 0x29, 0xE3, 0x2F, 0x84, 0x53, 0xD1, 0x00, 0xED,
    0x20, 0xFC, 0xB1, 0x5B, 0x6A, 0xCB, 0xBE, 0x39, 0x4A, 0x4C, 0x58, 0xCF,
    0xD0, 0xEF, 0xAA, 0xFB, 0x43, 0x4D, 0x33, 0x85, 0x45, 0xF9, 0x02, 0x7F,
    0x50, 0x3C, 0x9F, 0xA8, 0x51, 0xA3, 0x40, 0x8F, 0x92, 0x9D, 0x38, 0xF5,
    0xBC, 0xB6, 0xDA, 0x21, 0x10, 0xFF, 0xF3, 0xD2, 0xCD, 0x0C, 0x13, 0xEC,
    0x5F, 0x97, 0x44, 0x17, 0xC4, 0xA7, 0x7E, 0x3D, 0x64, 0x5D, 0x19, 0x73,
    0x60, 0x81, 0x4F, 0xDC, 0x22, 0x2A, 0x90, 0x88, 0x46, 0xEE, 0xB8, 0x14,
    0xDE, 0x5E, 0x0B, 0xDB, 0xE0, 0x32, 0x3A, 0x0A, 0x49, 0x06, 0x24, 0x5C,
    0xC2, 0xD3, 0xAC, 0x62, 0x91, 0x95, 0xE4, 0x79, 0xE7, 0xC8, 0x37, 0x6D,
    0x8D, 0xD5, 0x4E, 0xA9, 0x6C, 0x56, 0xF4, 0xEA, 0x65, 0x7A, 0xAE, 0x08,
    0xBA, 0x78, 0x25, 0x2E, 0x1C, 0xA6, 0xB4, 0xC6, 0xE8, 0xDD, 0x74, 0x1F,
    0x4B, 0xBD, 0x8B, 0x8A, 0x70, 0x3E, 0xB5, 0x66, 0x48, 0x03, 0xF6, 0x0E,
    0x61, 0x35, 0x57, 0xB9, 0x86, 0xC1, 0x1D, 0x9E, 0xE1, 0xF8, 0x98, 0x11,
    0x69, 0xD9, 0x8E, 0x94, 0x9B, 0x1E, 0x87, 0xE9, 0xCE, 0x55, 0x28, 0xDF,
    0x8C, 0xA1, 0x89, 0x0D, 0xBF, 0xE6, 0x42, 0x68, 0x41, 0x99, 0x2D, 0x0F,
    0xB0, 0x54, 0xBB, 0x16,
]
_INV_SBOX = [0] * 256
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _xtime(a: int) -> int:
    a <<= 1
    if a & 0x100:
        a ^= 0x11B
    return a & 0xFF


def _mul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


def _expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 §5.2 key schedule for AES-128 (11 round keys) or
    AES-256 (15) as flat 16-byte lists; Nr = Nk + 6."""
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        temp = list(w[i - 1])
        if i % nk == 0:
            temp = temp[1:] + temp[:1]
            temp = [_SBOX[b] for b in temp]
            temp[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            temp = [_SBOX[b] for b in temp]  # AES-256's extra SubWord
        w.append([a ^ b for a, b in zip(w[i - nk], temp)])
    return [sum(w[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _expand_key_128(key: bytes) -> list[list[int]]:
    """11 round keys of 16 bytes each, as flat lists."""
    return _expand_key(key)


def _add_round_key(state: list[int], rk: list[int]) -> None:
    for i in range(16):
        state[i] ^= rk[i]


_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


# Forward-cipher T-tables (the classic 32-bit formulation): T_r[x]
# packs MixColumns applied to SBOX[x] at row position r, so one round
# is 4 table lookups + 4 XORs per column instead of per-byte GF
# multiplies. This is the hot path of the V5 handler WHEN the EVP
# fast path below is unavailable: Algorithm 2.B CBC-encrypts 128-320
# blocks per hash iteration x 64+ iterations per password operation —
# the per-byte _mul() form measured 1.6 s per hash_2b call; the
# T-table form is ~15x that (finding 101), and libcrypto EVP another
# ~185x when the probe succeeds (finding 102).
def _t_tables() -> "tuple[list[int], list[int], list[int], list[int]]":
    t0, t1, t2, t3 = [], [], [], []
    for x in range(256):
        y = _SBOX[x]
        y2 = _xtime(y)
        y3 = y2 ^ y
        t0.append((y2 << 24) | (y << 16) | (y << 8) | y3)
        t1.append((y3 << 24) | (y2 << 16) | (y << 8) | y)
        t2.append((y << 24) | (y3 << 16) | (y2 << 8) | y)
        t3.append((y << 24) | (y << 16) | (y3 << 8) | y2)
    return t0, t1, t2, t3


_T0, _T1, _T2, _T3 = _t_tables()


def _pack_round_keys(rks: list[list[int]]) -> list[tuple]:
    """Round keys as 4 big-endian 32-bit words each."""
    return [
        tuple(
            (rk[4 * j] << 24) | (rk[4 * j + 1] << 16) | (rk[4 * j + 2] << 8) | rk[4 * j + 3]
            for j in range(4)
        )
        for rk in rks
    ]


def _encrypt_block_w(rkw: "list[tuple]", block: bytes) -> bytes:
    """Forward cipher on packed round keys — state lives as 4 words
    (unpack/repack through one 128-bit int: large-int ops are C-speed)."""
    b = int.from_bytes(block, "big")
    k = rkw[0]
    w0 = (b >> 96) ^ k[0]
    w1 = ((b >> 64) & 0xFFFFFFFF) ^ k[1]
    w2 = ((b >> 32) & 0xFFFFFFFF) ^ k[2]
    w3 = (b & 0xFFFFFFFF) ^ k[3]
    t0, t1, t2, t3, sbox = _T0, _T1, _T2, _T3, _SBOX
    for k in rkw[1:-1]:
        n0 = t0[w0 >> 24] ^ t1[(w1 >> 16) & 0xFF] ^ t2[(w2 >> 8) & 0xFF] ^ t3[w3 & 0xFF] ^ k[0]
        n1 = t0[w1 >> 24] ^ t1[(w2 >> 16) & 0xFF] ^ t2[(w3 >> 8) & 0xFF] ^ t3[w0 & 0xFF] ^ k[1]
        n2 = t0[w2 >> 24] ^ t1[(w3 >> 16) & 0xFF] ^ t2[(w0 >> 8) & 0xFF] ^ t3[w1 & 0xFF] ^ k[2]
        n3 = t0[w3 >> 24] ^ t1[(w0 >> 16) & 0xFF] ^ t2[(w1 >> 8) & 0xFF] ^ t3[w2 & 0xFF] ^ k[3]
        w0, w1, w2, w3 = n0, n1, n2, n3
    k = rkw[-1]
    o0 = ((sbox[w0 >> 24] << 24) | (sbox[(w1 >> 16) & 0xFF] << 16)
          | (sbox[(w2 >> 8) & 0xFF] << 8) | sbox[w3 & 0xFF]) ^ k[0]
    o1 = ((sbox[w1 >> 24] << 24) | (sbox[(w2 >> 16) & 0xFF] << 16)
          | (sbox[(w3 >> 8) & 0xFF] << 8) | sbox[w0 & 0xFF]) ^ k[1]
    o2 = ((sbox[w2 >> 24] << 24) | (sbox[(w3 >> 16) & 0xFF] << 16)
          | (sbox[(w0 >> 8) & 0xFF] << 8) | sbox[w1 & 0xFF]) ^ k[2]
    o3 = ((sbox[w3 >> 24] << 24) | (sbox[(w0 >> 16) & 0xFF] << 16)
          | (sbox[(w1 >> 8) & 0xFF] << 8) | sbox[w2 & 0xFF]) ^ k[3]
    return ((o0 << 96) | (o1 << 64) | (o2 << 32) | o3).to_bytes(16, "big")


def _encrypt_block(rks: list[list[int]], block: bytes) -> bytes:
    return _encrypt_block_w(_pack_round_keys(rks), block)


def _decrypt_block(rks: list[list[int]], block: bytes) -> bytes:
    s = list(block)
    _add_round_key(s, rks[-1])
    for rnd in range(len(rks) - 2, 0, -1):
        s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
        _add_round_key(s, rks[rnd])
        # InvMixColumns
        t = s
        s = []
        for c in range(4):
            col = t[4 * c : 4 * c + 4]
            s += [
                _mul(col[0], 14) ^ _mul(col[1], 11) ^ _mul(col[2], 13) ^ _mul(col[3], 9),
                _mul(col[0], 9) ^ _mul(col[1], 14) ^ _mul(col[2], 11) ^ _mul(col[3], 13),
                _mul(col[0], 13) ^ _mul(col[1], 9) ^ _mul(col[2], 14) ^ _mul(col[3], 11),
                _mul(col[0], 11) ^ _mul(col[1], 13) ^ _mul(col[2], 9) ^ _mul(col[3], 14),
            ]
    s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
    _add_round_key(s, rks[0])
    return bytes(s)


class AesError(ValueError):
    """Malformed AES-CBC payload (bad length, bad padding)."""


# --- OpenSSL EVP fast path (ctypes, optional) ------------------------------
#
# CPython's own hashlib/ssl link libcrypto, so binding the SAME shared
# library through the stdlib ``ctypes`` adds no dependency — it uses
# the crypto implementation the interpreter already ships with. AES is
# in OpenSSL 3's DEFAULT provider (unlike RC4, which moved to the
# legacy provider and stays pure-Python above). The pure-Python
# T-table cipher remains the REFERENCE implementation and the
# fallback: the probe is best-effort, every EVP call falls back on any
# error, and the FIPS-197 KATs + a forced-fallback test pin the two
# paths byte-identical. Why it matters: Algorithm 2.B (the V5 password
# KDF) is ~64-127 rounds x 128 sequential CBC blocks BY DESIGN, and
# the scalar T-table form costs ~0.23 s per hash — EVP does the same
# work in ~1 ms, taking KDF cost out of the encrypted-PDF decode lane
# entirely (finding 102).

_EVP = None  # None = unprobed, False = unavailable, else the binding


class _EvpBinding:
    """Minimal EVP_Encrypt/Decrypt binding over libcrypto (AES
    ECB/CBC only, padding always off — PKCS#7 is handled by the
    callers exactly as on the pure path)."""

    def __init__(self, lib, ctypes_mod):
        ct = ctypes_mod
        self._ct = ct
        self.lib = lib
        lib.EVP_CIPHER_CTX_new.restype = ct.c_void_p
        lib.EVP_CIPHER_CTX_new.argtypes = []
        lib.EVP_CIPHER_CTX_free.restype = None
        lib.EVP_CIPHER_CTX_free.argtypes = [ct.c_void_p]
        for name in ("EVP_aes_128_ecb", "EVP_aes_256_ecb",
                     "EVP_aes_128_cbc", "EVP_aes_256_cbc"):
            fn = getattr(lib, name)
            fn.restype = ct.c_void_p
            fn.argtypes = []
        for name in ("EVP_EncryptInit_ex", "EVP_DecryptInit_ex"):
            fn = getattr(lib, name)
            fn.restype = ct.c_int
            fn.argtypes = [ct.c_void_p, ct.c_void_p, ct.c_void_p,
                           ct.c_char_p, ct.c_char_p]
        for name in ("EVP_EncryptUpdate", "EVP_DecryptUpdate"):
            fn = getattr(lib, name)
            fn.restype = ct.c_int
            fn.argtypes = [ct.c_void_p, ct.c_char_p,
                           ct.POINTER(ct.c_int), ct.c_char_p, ct.c_int]
        lib.EVP_CIPHER_CTX_set_padding.restype = ct.c_int
        lib.EVP_CIPHER_CTX_set_padding.argtypes = [ct.c_void_p, ct.c_int]

    def transform(self, key, iv, data, encrypt, mode):
        """One-shot no-padding AES over block-aligned ``data``;
        returns the transformed bytes or raises on any EVP failure
        (callers catch and fall back to the pure path)."""
        ct, lib = self._ct, self.lib
        # fetch the cipher BEFORE allocating the context: raising
        # between the two would leak the ctx (its free lives in the
        # finally below)
        cipher = getattr(
            lib, f"EVP_aes_{len(key) * 8}_{mode}"
        )()
        if not cipher:
            raise OSError("EVP cipher fetch failed")
        ctx = lib.EVP_CIPHER_CTX_new()
        if not ctx:
            raise OSError("EVP context allocation failed")
        try:
            init = lib.EVP_EncryptInit_ex if encrypt else lib.EVP_DecryptInit_ex
            upd = lib.EVP_EncryptUpdate if encrypt else lib.EVP_DecryptUpdate
            if init(ctx, cipher, None, key, iv if mode == "cbc" else None) != 1:
                raise OSError("EVP init failed")
            if lib.EVP_CIPHER_CTX_set_padding(ctx, 0) != 1:
                raise OSError("EVP set_padding failed")
            out = ct.create_string_buffer(len(data) + 16)
            outl = ct.c_int(0)
            if upd(ctx, out, ct.byref(outl), data, len(data)) != 1:
                raise OSError("EVP update failed")
            if outl.value != len(data):
                raise OSError("EVP produced a partial block")
            return out.raw[: outl.value]
        finally:
            lib.EVP_CIPHER_CTX_free(ctx)


def _load_evp():
    """Probe libcrypto once; memoized tri-state in ``_EVP``."""
    global _EVP
    if _EVP is not None:
        return _EVP or None
    try:  # pragma: no cover - environment probe
        import ctypes
        import ctypes.util

        name = ctypes.util.find_library("crypto")
        lib = None
        for cand in ([name] if name else []) + [
            "libcrypto.so.3", "libcrypto.so.1.1", "libcrypto.so",
        ]:
            try:
                lib = ctypes.CDLL(cand)
                break
            except OSError:
                continue
        if lib is None:
            raise OSError("no libcrypto")
        binding = _EvpBinding(lib, ctypes)
        # self-check before trusting it: FIPS-197 C.1 vector
        kat = binding.transform(
            bytes(range(16)), b"", bytes.fromhex("00112233445566778899aabbccddeeff"),
            True, "ecb",
        )
        if kat != bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a"):
            raise OSError("EVP KAT mismatch")
        _EVP = binding
    except Exception:
        _EVP = False
    return _EVP or None


# Consecutive EVP call failures before the memo is poisoned for the
# process (treating the breakage as systemic rather than one-off).
_EVP_POISON_AFTER = 3
_EVP_CALL_FAILURES = 0


def _evp_aes(key, iv, data, encrypt, mode):
    """EVP transform or ``None`` when unavailable/failing — callers
    treat None as 'use the pure-Python path'.

    A one-off call failure falls back for THAT call only (logged once
    per process); only _EVP_POISON_AFTER consecutive failures poison
    the memo, so a single transient error cannot silently downgrade
    every subsequent AES to the ~185x-slower pure path. Systemic
    probe-time failures (missing symbols, KAT mismatch) are still
    poisoned immediately by :func:`_load_evp`.
    """
    global _EVP, _EVP_CALL_FAILURES
    evp = _load_evp()
    if evp is None or len(key) not in (16, 32) or len(data) % 16:
        return None
    try:
        out = evp.transform(key, iv, data, encrypt, mode)
    except Exception as exc:  # pragma: no cover - defensive downgrade
        _EVP_CALL_FAILURES += 1
        import logging

        log = logging.getLogger(__name__)
        if _EVP_CALL_FAILURES == 1:
            log.warning(
                "OpenSSL EVP AES call failed (%s: %s); falling back to "
                "pure-Python AES for this call", type(exc).__name__, exc
            )
        if _EVP_CALL_FAILURES >= _EVP_POISON_AFTER:
            log.warning(
                "OpenSSL EVP AES failed %d consecutive calls — disabling "
                "the EVP fast path for this process (pure-Python AES from "
                "here on)", _EVP_CALL_FAILURES,
            )
            _EVP = False
        return None
    _EVP_CALL_FAILURES = 0
    return out


# --- vectorized decrypt path (numpy, optional) ----------------------------
#
# CBC DECRYPTION is embarrassingly parallel (every block's ECB inverse
# is independent; the chaining XOR uses the CIPHERTEXT, known up
# front), so all blocks run through the inverse cipher simultaneously
# as (N, 16) uint8 arrays: InvSubBytes = one table take, InvShiftRows
# = one column permutation, InvMixColumns = four GF-multiply table
# takes + XORs. ~50x the scalar path on report-sized streams — the
# difference between "decryption is the bottleneck" and "parse CPU is"
# for bulk encrypted-PDF ingest. Scalar remains the reference
# implementation (and the fallback); a test pins both paths equal.

try:  # pragma: no cover - availability probe
    import numpy as _np
except ImportError:  # pragma: no cover
    _np = None

_NP_TABLES = None


def _np_tables():
    """Lazy (inv_sbox, mul9, mul11, mul13, mul14, inv_shift) uint8
    lookup tables."""
    global _NP_TABLES
    if _NP_TABLES is None:
        inv_sbox = _np.array(_INV_SBOX, dtype=_np.uint8)
        muls = {
            m: _np.array([_mul(x, m) for x in range(256)], dtype=_np.uint8)
            for m in (9, 11, 13, 14)
        }
        inv_shift = _np.array(_INV_SHIFT, dtype=_np.intp)
        _NP_TABLES = (inv_sbox, muls[9], muls[11], muls[13], muls[14], inv_shift)
    return _NP_TABLES


def _aes_ecb_decrypt_np(rks: "list[list[int]]", data: bytes) -> bytes:
    """Inverse cipher over every 16-byte block of ``data`` at once
    (any key size — the round count comes from the schedule)."""
    inv_sbox, m9, m11, m13, m14, inv_shift = _np_tables()
    rk = [_np.array(k, dtype=_np.uint8) for k in rks]
    s = _np.frombuffer(data, dtype=_np.uint8).reshape(-1, 16).copy()
    s ^= rk[-1]
    for rnd in range(len(rks) - 2, 0, -1):
        s = inv_sbox[s[:, inv_shift]]
        s ^= rk[rnd]
        # InvMixColumns on the 4 byte-columns of each 4-byte word
        c = s.reshape(-1, 4, 4)
        a0, a1, a2, a3 = c[:, :, 0], c[:, :, 1], c[:, :, 2], c[:, :, 3]
        c = _np.stack(
            [
                m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3],
                m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3],
                m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3],
                m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3],
            ],
            axis=2,
        )
        s = c.reshape(-1, 16)
    s = inv_sbox[s[:, inv_shift]]
    s ^= rk[0]
    return s.tobytes()


def _pkcs7_unpad(out: "bytes | bytearray") -> bytes:
    """Validate and strip PKCS#7 padding — the single copy both the
    EVP fast path and the pure path of :func:`aes_cbc_decrypt` use, so
    the two validations cannot drift."""
    pad = out[-1]
    if not 1 <= pad <= 16 or bytes(out[-pad:]) != bytes([pad]) * pad:
        raise AesError("bad PKCS#7 padding")
    return bytes(out[:-pad])


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PDF §7.6.2 AESV2/AESV3 stream form: ``iv + CBC(pkcs7(data))``
    under a 16- (AES-128) or 32-byte (AES-256) key."""
    if len(key) not in (16, 32) or len(iv) != 16:
        raise AesError("AES key must be 16/32 bytes with a 16-byte IV")
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    fast = _evp_aes(key, iv, data, True, "cbc")
    if fast is not None:
        return iv + fast
    rkw = _pack_round_keys(_expand_key(key))
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        block = (
            int.from_bytes(data[i : i + 16], "big") ^ int.from_bytes(prev, "big")
        ).to_bytes(16, "big")
        prev = _encrypt_block_w(rkw, block)
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of :func:`aes_cbc_encrypt`; the leading 16 bytes are
    the IV. Raises :class:`AesError` (a ValueError) on malformed
    length/padding so the extractor can retype it PdfUnsupported."""
    if len(key) not in (16, 32):
        raise AesError("AES key must be 16 or 32 bytes")
    if len(data) < 32 or len(data) % 16:
        raise AesError(f"AES-CBC payload length {len(data)} invalid")
    iv, body = data[:16], data[16:]
    fast = _evp_aes(key, iv, body, False, "cbc")
    if fast is not None:
        return _pkcs7_unpad(fast)
    rks = _expand_key(key)
    if _np is not None and len(body) >= 256:
        ecb = _aes_ecb_decrypt_np(rks, body)
        # chain XOR: block i ^ ciphertext block i-1 (IV for block 0)
        chain = data[: len(data) - 16]  # iv + body[:-16]
        p = _np.frombuffer(ecb, dtype=_np.uint8) ^ _np.frombuffer(
            chain, dtype=_np.uint8
        )
        out = bytearray(p.tobytes())
    else:
        out = bytearray()
        prev = iv
        for i in range(0, len(body), 16):
            blk = body[i : i + 16]
            out += bytes(a ^ b for a, b in zip(_decrypt_block(rks, blk), prev))
            prev = blk
    return _pkcs7_unpad(out)


# 16-byte-key wrappers kept for the original AES-128 surface (and its
# KAT tests); both delegate to the generalized core above.
def aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(key) != 16:
        raise AesError("AES-128 key must be 16 bytes")
    return aes_cbc_encrypt(key, iv, data)


def aes128_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    if len(key) != 16:
        raise AesError("AES-128 key must be 16 bytes")
    return aes_cbc_decrypt(key, data)


def _aes_cbc_raw(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    """CBC with NO padding over an already-block-aligned payload — the
    §7.6.4.3 /UE // /OE intermediate-key wrap (ISO 32000-2: 'AES-256 in
    CBC mode with no padding and an initialization vector of zero')."""
    if len(key) not in (16, 32):
        raise AesError("AES key must be 16 or 32 bytes")
    if len(data) % 16 or len(iv) != 16:
        raise AesError("raw CBC needs block-aligned data and a 16-byte IV")
    fast = _evp_aes(key, iv, data, encrypt, "cbc")
    if fast is not None:
        return fast
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    if encrypt:
        rkw = _pack_round_keys(rks)
        for i in range(0, len(data), 16):
            block = (
                int.from_bytes(data[i : i + 16], "big") ^ int.from_bytes(prev, "big")
            ).to_bytes(16, "big")
            prev = _encrypt_block_w(rkw, block)
            out += prev
    else:
        for i in range(0, len(data), 16):
            blk = data[i : i + 16]
            out += bytes(a ^ b for a, b in zip(_decrypt_block(rks, blk), prev))
            prev = blk
    return bytes(out)


def aes_ecb_encrypt(key: bytes, data: bytes) -> bytes:
    """ECB, no padding — the §7.6.4.4.9 /Perms wrap is one block."""
    if len(data) % 16:
        raise AesError("ECB needs block-aligned data")
    fast = _evp_aes(key, b"", data, True, "ecb")
    if fast is not None:
        return fast
    rkw = _pack_round_keys(_expand_key(key))
    return b"".join(
        _encrypt_block_w(rkw, data[i : i + 16]) for i in range(0, len(data), 16)
    )


def aes_ecb_decrypt(key: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise AesError("ECB needs block-aligned data")
    fast = _evp_aes(key, b"", data, False, "ecb")
    if fast is not None:
        return fast
    rks = _expand_key(key)
    return b"".join(
        _decrypt_block(rks, data[i : i + 16]) for i in range(0, len(data), 16)
    )


# --------------------------------------------------------------------------
# Standard security handler key algorithms (§7.6.3.3-7.6.3.5)
# --------------------------------------------------------------------------


def compute_file_key(
    user_pw: bytes,
    o_value: bytes,
    p: int,
    id0: bytes,
    r: int,
    key_bytes: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from a (padded) user
    password. ``p`` is the signed /P permissions value; ``key_bytes``
    is /Length/8 (5 for R=2). Step (f): R>=4 with /EncryptMetadata
    false appends 0xFFFFFFFF to the hash input."""
    h = hashlib.md5()
    h.update(_pad_password(user_pw))
    h.update(o_value[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))  # same bytes as
    h.update(id0)  # struct.pack('<i') but total on any Python int
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    digest = h.digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:key_bytes]).digest()
    return digest[:key_bytes]


def compute_o_value(owner_pw: bytes, user_pw: bytes, r: int, key_bytes: int) -> bytes:
    """Algorithm 3: the /O entry. Step (c) truncates each of the 50
    re-hash iterations' INPUT to key_bytes (ISO 32000-1 §7.6.3.4 —
    same truncation as Algorithm 2 step (h) in compute_file_key); a
    no-op at /Length 128 but load-bearing for R3 files with shorter
    keys (/V 2 /Length 40-112), where hashing the full 16-byte digest
    derives an owner key no real reader agrees with (r12, ADVICE)."""
    digest = hashlib.md5(_pad_password(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:key_bytes]).digest()
    rc4_key = digest[:key_bytes]
    o = rc4(rc4_key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4_key), o)
    return o


def compute_u_value(file_key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R=2) / Algorithm 5 (R>=3): the /U entry. R>=3
    returns 16 significant bytes + 16 bytes of deterministic padding
    (spec: 'arbitrary padding'; zeros here keep writers pure)."""
    if r == 2:
        return rc4(file_key, _PAD)
    digest = hashlib.md5(_PAD + id0).digest()
    u = rc4(file_key, digest)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16


def authenticate_user_password(
    user_pw: bytes, o_value: bytes, u_value: bytes, p: int, id0: bytes,
    r: int, key_bytes: int, encrypt_metadata: bool = True,
) -> "bytes | None":
    """Algorithm 6: derive the file key from ``user_pw`` and check it
    reproduces /U. Returns the file key on success, None on failure
    (R>=3 compares only the 16 significant bytes)."""
    key = compute_file_key(
        user_pw, o_value, p, id0, r, key_bytes, encrypt_metadata=encrypt_metadata
    )
    expect = compute_u_value(key, id0, r)
    got, want = (u_value[:16], expect[:16]) if r >= 3 else (u_value[:32], expect[:32])
    return key if got == want else None


def authenticate_owner_password(
    owner_pw: bytes, o_value: bytes, u_value: bytes, p: int, id0: bytes,
    r: int, key_bytes: int, encrypt_metadata: bool = True,
) -> "bytes | None":
    """Algorithm 7 (r11, caller-supplied credentials): decrypt /O with
    the owner key to recover the PADDED user password, then run
    Algorithm 6 on it. The recovered 32-byte value feeds the user
    branch unchanged — ``_pad_password`` is the identity on an
    already-padded password. Returns the file key, or None when
    ``owner_pw`` is wrong. The 50x loop truncates each iteration's
    input to key_bytes — see compute_o_value (r12, ADVICE: without the
    truncation, short-key R3 files reject correct owner passwords)."""
    digest = hashlib.md5(_pad_password(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:key_bytes]).digest()
    rc4_key = digest[:key_bytes]
    user_padded = o_value[:32]
    if r == 2:
        user_padded = rc4(rc4_key, user_padded)
    else:
        for i in range(19, -1, -1):
            user_padded = rc4(bytes(b ^ i for b in rc4_key), user_padded)
    return authenticate_user_password(
        user_padded, o_value, u_value, p, id0, r, key_bytes,
        encrypt_metadata=encrypt_metadata,
    )


# --------------------------------------------------------------------------
# AES-256 standard handler, /V 5 /R 5-6 (public ISO 32000-2 §7.6.4.3,
# Algorithms 2.A / 2.B — r10, the last document-ingest extension the
# r09 verdict named). /R 6 is the ISO form every current writer emits;
# /R 5 is Adobe's deprecated Extension-Level-3 precursor (plain SHA-256,
# no 2.B iteration) still found on 2008-2011 era files.
# --------------------------------------------------------------------------


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"", r: int = 6) -> bytes:
    """Algorithm 2.B: the R6 iterated SHA-2 password hash (R5: plain
    SHA-256). ``udata`` is the 48-byte /U value when hashing an OWNER
    password, empty for a user password. Passwords are capped at 127
    UTF-8 bytes per §7.6.4.3.2."""
    password = password[:127]
    k = hashlib.sha256(password + salt + udata).digest()
    if r < 6:
        return k
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_raw(k[:16], k[16:32], k1, encrypt=True)
        k = {0: hashlib.sha256, 1: hashlib.sha384, 2: hashlib.sha512}[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def authenticate_user_password_v5(
    user_pw: bytes, u_value: bytes, ue_value: bytes, r: int
) -> "bytes | None":
    """Algorithm 2.A (user-password branch): check ``user_pw`` against
    /U's validation salt and, on success, unwrap the 32-byte file key
    from /UE with the key-salt intermediate key (AES-256-CBC, zero IV,
    no padding). Returns the file key, or None when the password is
    wrong / the fields are malformed."""
    if len(u_value) < 48 or len(ue_value) != 32:
        return None
    expect, vsalt, ksalt = u_value[:32], u_value[32:40], u_value[40:48]
    if hash_2b(user_pw, vsalt, b"", r) != expect:
        return None
    intermediate = hash_2b(user_pw, ksalt, b"", r)
    return _aes_cbc_raw(intermediate, b"\x00" * 16, ue_value, encrypt=False)


def authenticate_owner_password_v5(
    owner_pw: bytes, o_value: bytes, oe_value: bytes, u_value: bytes, r: int
) -> "bytes | None":
    """Algorithm 2.A (owner-password branch, r11): check ``owner_pw``
    against /O's validation salt — the owner hash salts with the full
    48-byte /U as ``udata`` — and on success unwrap the file key from
    /OE. Returns the file key, or None when the password is wrong /
    the fields are malformed."""
    if len(o_value) < 48 or len(oe_value) != 32 or len(u_value) < 48:
        return None
    u48 = u_value[:48]
    expect, vsalt, ksalt = o_value[:32], o_value[32:40], o_value[40:48]
    if hash_2b(owner_pw, vsalt, u48, r) != expect:
        return None
    intermediate = hash_2b(owner_pw, ksalt, u48, r)
    return _aes_cbc_raw(intermediate, b"\x00" * 16, oe_value, encrypt=False)


def compute_u_ue_v5(
    user_pw: bytes, file_key: bytes, vsalt: bytes, ksalt: bytes, r: int = 6
) -> "tuple[bytes, bytes]":
    """Writer half of Algorithm 8: /U = hash + validation salt + key
    salt (48 bytes), /UE = the file key wrapped under the key-salt
    intermediate key. Salts are caller-supplied (determinism contract —
    fixtures derive them from the file /ID, never a RNG)."""
    if len(vsalt) != 8 or len(ksalt) != 8 or len(file_key) != 32:
        raise ValueError("V5 salts are 8 bytes and the file key 32")
    u = hash_2b(user_pw, vsalt, b"", r) + vsalt + ksalt
    ue = _aes_cbc_raw(hash_2b(user_pw, ksalt, b"", r), b"\x00" * 16, file_key, True)
    return u, ue


def compute_o_oe_v5(
    owner_pw: bytes,
    file_key: bytes,
    u_value: bytes,
    vsalt: bytes,
    ksalt: bytes,
    r: int = 6,
) -> "tuple[bytes, bytes]":
    """Writer half of Algorithm 9: the owner hash salts with the full
    48-byte /U value as ``udata``."""
    if len(u_value) < 48:
        raise ValueError("V5 /O derivation needs the 48-byte /U value")
    u48 = u_value[:48]
    o = hash_2b(owner_pw, vsalt, u48, r) + vsalt + ksalt
    oe = _aes_cbc_raw(hash_2b(owner_pw, ksalt, u48, r), b"\x00" * 16, file_key, True)
    return o, oe


def compute_perms_v5(p: int, encrypt_metadata: bool, file_key: bytes) -> bytes:
    """Algorithm 10: the /Perms block — P as a little-endian int64
    (high bytes 0xFF), 'T'/'F' for /EncryptMetadata, the literal 'adb'
    sentinel, 4 spec-'random' tail bytes (caller-fixed here: writers in
    sources/ are pure functions of their inputs)."""
    block = (
        (p & 0xFFFFFFFF).to_bytes(4, "little")
        + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F")
        + b"adb"
        + b"adbf"
    )
    return aes_ecb_encrypt(file_key, block)


def verify_perms_v5(perms: bytes, file_key: bytes) -> bool:
    """Reader half of Algorithm 10 (step f of 2.A): ECB-decrypt /Perms
    and check the 'adb' sentinel — a wrong file key (or tampered dict)
    fails closed."""
    if len(perms) < 16:
        return False
    return aes_ecb_decrypt(file_key, perms[:16])[9:12] == b"adb"


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object key — MD5 of the file key + 3
    low-order bytes of the object number + 2 of the generation (+ the
    'sAlT' constant for /AESV2), truncated to min(len+5, 16)."""
    h = hashlib.md5()
    h.update(file_key)
    # low-order bytes by masking, never struct.pack: hostile headers
    # carry unbounded digits ('3000000000 0 obj') and struct.error is
    # NOT a ValueError — it would escape the typed-quarantine retype
    # and fail the whole task instead of costing a row
    h.update((num & 0xFFFFFF).to_bytes(3, "little"))
    h.update((gen & 0xFFFF).to_bytes(2, "little"))
    if aes:
        h.update(b"sAlT")
    return h.digest()[: min(len(file_key) + 5, 16)]


def decrypt_bytes(file_key: bytes, num: int, gen: int, data: bytes, method: str) -> bytes:
    """Decrypt one string/stream for object ``num``/``gen``.
    ``method`` is 'rc4', 'aesv2', or 'aesv3' (AES-256: §7.6.4.2 drops
    the per-object key — the 32-byte file key is used directly)."""
    if method == "aesv3":
        return aes_cbc_decrypt(file_key, data)
    key = object_key(file_key, num, gen, aes=(method == "aesv2"))
    if method == "rc4":
        return rc4(key, data)
    return aes128_cbc_decrypt(key, data)


def encrypt_bytes(
    file_key: bytes, num: int, gen: int, data: bytes, method: str, iv: bytes = b""
) -> bytes:
    """Forward direction for writer fixtures; AES methods need a
    caller-supplied 16-byte IV (determinism contract)."""
    if method == "aesv3":
        return aes_cbc_encrypt(file_key, iv, data)
    key = object_key(file_key, num, gen, aes=(method == "aesv2"))
    if method == "rc4":
        return rc4(key, data)
    return aes128_cbc_encrypt(key, iv, data)
