"""Banding-granularity A/B for the MinHash near-dup pair lanes
(VERDICT r12 ask #1): the 132 GB mem spill left in q_minhash_portable's
sf10 steady state is the candidate PAIR STREAM (Σ n_b² over band
buckets) at the registered banding parameters — the join strategy was
already fixed in r12 (SHJ from bucket files). The remaining knob is
granularity: at a fixed verification threshold, more ROWS PER BAND
tightens the LSH s-curve (per-band collision prob J^r), shrinking the
pair stream superlinearly, at the cost of a wider signature (K = b·r
min-hashes per doc) and lower candidate recall at low Jaccard.

This script measures the curve on BOTH pair lanes, registered oracles
untouched (variants build their OWN bucketed band tables; the
registered keys keep reading the default-parameter tables):

- portable lane (md5, verify J >= 0.3): the q_minhash_portable pipeline
  via the SHARED `_portable_pairs_from_tables` body — identical plan
  and pins, only the bands table varies. Variants at constant K=16
  ((8,2), (4,4)=registered, (2,8)) plus K-raising (4,8).
- xx lane (xxhash64, verify J >= 0.5): the q_minhash_neardup /
  q_neardup_clusters candidate+verify composition. Variants
  (16h,8b,r2)=registered, (48h,16b,r3), (32h,8b,r4). r-recall at the
  0.5 verification threshold: r2 0.90, r3-16b 0.88, r4-8b 0.40 —
  (48,16,3) is the "same recall, tighter buckets" point.

Per variant: band-table build seconds, pair+verify wall seconds,
shuffle/mem-spill/disk-spill bytes, candidate-pair count, verified
count at the lane threshold, and verified count at J >= 0.7 (the
near-dup range an LLM dedup actually acts on — variants that agree
there but differ in spill differ only in wasted work).

Usage:
  SPARK_GRAFT_SF_DIR=/tmp/sf10 python scripts/banding_ab.py \
      --lanes portable,xx [--variants-portable 4x4,2x8] \
      [--variants-xx 16x8,48x16] [--cc]
Output: one JSON line per measurement on stdout (tee to a .jsonl).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.scale_study import stage_totals  # noqa: E402
from automated_property_data_ingestion_document_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")


def emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def measured(spark, fn):
    """(seconds, shuffle_mb, mem_spill_mb, disk_spill_mb, result)."""
    pre = stage_totals(spark)
    t0 = time.perf_counter()
    res = fn()
    sec = round(time.perf_counter() - t0, 3)
    post = stage_totals(spark)
    mb = lambda a, b: round((b - a) / 1e6, 1)  # noqa: E731
    return sec, mb(pre[0], post[0]), mb(pre[1], post[1]), mb(pre[2], post[2]), res


def run_portable(spark, variants: list[tuple[int, int]]) -> None:
    from pyspark.sql import functions as F

    from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing
    from automated_property_data_ingestion_document_pipeline_spark.plans import queries_neardup as qn

    # shared, parameter-independent base (shingles/sizes) — build or
    # adopt once; its cost is NOT part of the A/B
    sh_t, bydoc_t, bands_t_default, sz_t = qn.ensure_portable_base(spark, SF_DIR)
    tag = bucketing.corpus_table_tag(SF_DIR)
    corpus_fp = bucketing.corpus_fingerprint(os.path.join(SF_DIR, "documents.parquet"))

    for b, r in variants:
        default = (b, r) == (qn._BANDS, qn._K // qn._BANDS)
        if default:
            bands_t, build_sec = bands_t_default, 0.0
        else:
            bands_t = f"b_nd_bands_{tag}_v{b}x{r}"
            fp = corpus_fp + f":ab:k3 b{b} r{r}"
            t0 = time.perf_counter()
            bucketing.ensure_bucketed(
                spark, bands_t, ["band", "bh"], fp,
                lambda: qn._portable_bands(
                    spark.table(sh_t), bands=b, rows=r
                ).repartition(bucketing.BASE_BUCKETS, "band", "bh"),
                num_buckets=bucketing.BASE_BUCKETS,
            )
            build_sec = round(time.perf_counter() - t0, 3)

        out = qn._portable_pairs_from_tables(spark, sh_t, bydoc_t, bands_t, sz_t)
        sec, sh_mb, ms_mb, ds_mb, row = measured(
            spark,
            lambda: out.agg(
                F.count("*").alias("n"),
                F.sum((F.col("jaccard") >= 0.7).cast("long")).alias("n07"),
            ).collect()[0],
        )
        emit(
            {
                "lane": "portable",
                "bands": b,
                "rows": r,
                "k": b * r,
                "registered": default,
                "band_build_sec": build_sec,
                "pair_verify_sec": sec,
                "shuffle_mb": sh_mb,
                "mem_spill_mb": ms_mb,
                "disk_spill_mb": ds_mb,
                "n_verified_030": row["n"],
                "n_verified_070": row["n07"] or 0,
            }
        )


def run_xx(spark, variants: list[tuple[int, int]], with_cc: bool) -> None:
    from pyspark.sql import functions as F

    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.operators import bucketing, dedup
    from automated_property_data_ingestion_document_pipeline_spark.plans import queries_text as qt

    bands_t_default, sets_t = qt._ensure_xx_base(spark, SF_DIR)
    tag = bucketing.corpus_table_tag(SF_DIR)
    corpus_fp = bucketing.corpus_fingerprint(os.path.join(SF_DIR, "documents.parquet"))
    d = catalog.load(spark, SF_DIR, "documents")

    for h, b in variants:
        default = (h, b) == (16, 8)
        if default:
            bands_t, build_sec = bands_t_default, 0.0
        else:
            bands_t = f"b_nd_xx_bands_{tag}_v{h}x{b}"
            fp = corpus_fp + f":ab:xx h{h} b{b} k3"
            t0 = time.perf_counter()
            bucketing.ensure_bucketed(
                spark, bands_t, ["band_idx", "band_hash"], fp,
                lambda: dedup.minhash_banded_df(
                    d, num_hashes=h, bands=b, shingle_k=3
                ).repartition(bucketing.BASE_BUCKETS, "band_idx", "band_hash"),
                num_buckets=bucketing.BASE_BUCKETS,
            )
            build_sec = round(time.perf_counter() - t0, 3)

        candidates = dedup.candidate_pairs_from_bands(spark.table(bands_t).hint("merge"))
        verified = dedup.ngram_jaccard_pairs(
            d, candidates, shingle_k=3, threshold=0.5, sets_df=spark.table(sets_t)
        )
        sec, sh_mb, ms_mb, ds_mb, row = measured(
            spark,
            lambda: verified.agg(
                F.count("*").alias("n"),
                F.sum((F.col("jaccard") >= 0.7).cast("long")).alias("n07"),
            ).collect()[0],
        )
        rec = {
            "lane": "xx",
            "num_hashes": h,
            "bands": b,
            "rows": h // b,
            "registered": default,
            "band_build_sec": build_sec,
            "pair_verify_sec": sec,
            "shuffle_mb": sh_mb,
            "mem_spill_mb": ms_mb,
            "disk_spill_mb": ds_mb,
            "n_verified_050": row["n"],
            "n_verified_070": row["n07"] or 0,
        }
        if with_cc:
            cc_sec, cc_sh, cc_ms, cc_ds, n_nodes = measured(
                spark, lambda: dedup.connected_components(verified).count()
            )
            rec.update(
                {"cc_sec": cc_sec, "cc_shuffle_mb": cc_sh, "cc_mem_spill_mb": cc_ms,
                 "cc_disk_spill_mb": cc_ds, "cc_nodes": n_nodes}
            )
        emit(rec)


def parse_pairs(s: str) -> list[tuple[int, int]]:
    return [tuple(int(x) for x in v.split("x")) for v in s.split(",") if v]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lanes", default="portable,xx")
    ap.add_argument("--variants-portable", default="4x4,2x8,8x2")
    ap.add_argument("--variants-xx", default="16x8,48x16,32x8")
    ap.add_argument("--cc", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="apdidp-banding-ab")
    spark.sparkContext.setLogLevel("ERROR")
    emit({"sf_dir": SF_DIR, "lanes": args.lanes})
    if "portable" in args.lanes:
        run_portable(spark, parse_pairs(args.variants_portable))
    if "xx" in args.lanes:
        run_xx(spark, parse_pairs(args.variants_xx), args.cc)


if __name__ == "__main__":
    main()
