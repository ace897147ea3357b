"""Perceptual image hashing (dHash) + banded near-dup pairing — the
image half of the dedup family (r13, VERDICT r12 stretch #7).

dHash (difference hash; the classic 64-bit perceptual fingerprint used
by image dedup pipelines): grayscale → downsample to a 9×8 grid →
compare horizontally adjacent cells → one bit per comparison. Near-dup
images (re-encodes, small edits, noise) flip few bits, so pairing is
Hamming-distance ≤ t over the hashes — found at scale NOT by all-pairs
but by banding the 64-bit hash into 16-bit slices (pigeonhole: two
hashes within Hamming 6 agree exactly on ≥ 1 of 4 slices... when the
differing bits fall in ≤ 3 slices; like MinHash banding this is a
candidate GENERATOR with the exact integer verify as the gate, and the
oracle applies the same banding, so the contract is self-consistent).

Spark shape: per-image work (decode, downsample, hash) is a row-local
Arrow-batched mapInPandas — zero exchanges, embarrassingly parallel,
the same tier as the other multimodal lanes. Banding + candidate
self-join + Hamming verify are pure JVM-side DataFrame ops (explode →
equi-join on the slice → bit_count(a ^ b)); at 100 TB the band join
shuffles hash-sized rows only, never pixels.

Implementation notes:
- The hash is 63-bit (grid comparison (7,7) dropped, like
  dedup.simhash64_df): a full 64-bit hash sets the sign bit on half of
  all images and signed >> then behaves differently across engines;
  63 bits keep every band-slice expression portable.
- Downsampling compares 2×2 box SUMS, not means — integer-exact in
  both engines, and comparing sums of equal-sized boxes is order-
  equivalent to comparing means.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID_W = 9  # dHash grid: 9 columns × 8 rows → 8 comparisons per row
GRID_H = 8
N_BANDS = 4  # 16-bit slices of the 63-bit hash
HAMMING_MAX = 6  # default near-dup acceptance threshold


def box_downsample_sums(img: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """(H, W) integer image → (H//fy, W//fx) array of box SUMS (int64).
    Sums, not means: exact in integers, and comparisons of equal-sized
    boxes are unaffected."""
    h, w = img.shape
    gh, gw = h // fy, w // fx
    return (
        img[: gh * fy, : gw * fx]
        .astype(np.int64)
        .reshape(gh, fy, gw, fx)
        .sum(axis=(1, 3))
    )


def dhash63(grid: np.ndarray) -> int:
    """(GRID_H, GRID_W) integer grid → 63-bit dHash: bit (y*8 + x) set
    iff grid[y, x] > grid[y, x+1]; comparison (7, 7) dropped so the
    value never sets int64's sign bit."""
    if grid.shape != (GRID_H, GRID_W):
        raise ValueError(f"dhash63 expects {(GRID_H, GRID_W)}, got {grid.shape}")
    bits = (grid[:, :-1] > grid[:, 1:]).astype(np.int64)  # (8, 8)
    h = 0
    for y in range(GRID_H):
        for x in range(GRID_W - 1):
            if y == 7 and x == 7:
                continue
            if bits[y, x]:
                h |= 1 << (y * 8 + x)
    return h


def hamming_pairs(hashes: DataFrame, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """Banded Hamming near-dup join over a (id, hash) relation:
    explode each hash into N_BANDS 16-bit slices, self-join on
    (band_idx, band_val) for candidates, verify with
    bit_count(a ^ b) <= max_hamming. Returns (doc_a, doc_b, hamming),
    doc_a < doc_b. The band join is an equi-join — AQE handles skewed
    slices (e.g. the all-zero slice of flat images) the same way the
    MinHash lanes handle hot shingle buckets."""
    bands = hashes.select(
        F.col("doc_id").alias("_id"),
        F.col("dhash").alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        (
                            F.shiftrightunsigned(F.col("dhash"), 16 * k)
                            .bitwiseAND(F.lit(65535))
                        ).alias("band_val"),
                    )
                    for k in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("_id", "_h", F.col("b.band_idx"), F.col("b.band_val"))
    a = bands.select(
        F.col("_id").alias("doc_a"),
        F.col("_h").alias("ha"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("_id").alias("doc_b"),
        F.col("_h").alias("hb"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
    )
    # finding 93/94 class: both sides of the candidate self-join are
    # corpus-sized post-explode relations — the optimizer can't see the
    # Generate fan-out and happily broadcasts one side at small SF,
    # which is exactly the shape that falls over at 1B images. Pin the
    # partitioned join; rows are slim (id + hash + slice = ~28 bytes),
    # so shuffle_hash per the measured row-width rule (SCALE_STUDY
    # r12_lanes: SHJ wins wall AND spill on slim rows, OOMs on fat).
    cand = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
