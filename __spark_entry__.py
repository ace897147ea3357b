"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline at sf0.001; ``queries()`` /
``oracle_sql()`` expose every registered operator key from SURVEY.md §2
(registry populated by importing the plans package).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from automated_property_data_ingestion_document_pipeline_spark import catalog, tune
from automated_property_data_ingestion_document_pipeline_spark.functions import formatters as fmt
from automated_property_data_ingestion_document_pipeline_spark.plans import ORACLES, QUERIES

FLAGSHIP_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7 stage 0): validated engagement-fee
    rollup — orders ⋈ customer ⋈ nation ⋈ region star join with the
    reference's validation gate and formatters applied to the output.
    Dims broadcast; one shuffle on the rollup keys; money summed in
    exact decimal.
    """
    from pyspark.sql import functions as F

    tune(spark)
    t = catalog.load_all(spark, FLAGSHIP_SF_DIR)
    enriched = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("o_totalprice") > 0)  # step-3 fee gate (App.js:389)
    )
    rollup = enriched.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).cast("double").alias("total_fees"),
        F.max("o_orderdate").alias("latest_order"),
    )
    return rollup.select(
        "r_name",
        "n_name",
        "n_orders",
        "total_fees",
        fmt.format_currency(F.col("total_fees")).alias("total_fees_fmt"),
        F.date_format("latest_order", "MMMM dd, yyyy").alias("latest_order_fmt"),
    )


# --- driver-window staleness rotation (r08 verdict asks #1/#2) -------------
#
# The driver snapshots only the FIRST ~50 keys of the returned dict per
# round, so ordering IS the verification policy. Through r08 the order
# was a hand-refreshed frozenset of seen keys; with all 338 keys
# witnessed at least once, the debt is now FRESHNESS: 88 keys were last
# driver-checked in r01–r03 and have survived refactors only on local
# parity sweeps. The order is therefore derived from the committed
# CORRECTNESS_r{N}.json ledgers themselves:
#
#   1. never-witnessed keys (new growth), oracle-backed before rows-only;
#   2. witnessed keys ascending by LAST-witnessed round (stalest first);
#   3. ties in registration order.
#
# A key whose latest driver row recorded a failure (hash/schema/rows
# mismatch or a real error — "no_oracle" is the rows-only success
# marker) counts as NOT witnessed that round, so it re-queues at the
# front instead of sinking to the back. Every round the window then
# drains the oldest 50 automatically — no hand-editing, and the policy
# itself is pinned by tests/test_driver_window.py.

# Escape hatch: keys forced to the very front of the window. The
# rotation orders by staleness only — it cannot see that a key's
# IMPLEMENTATION changed since its last witness, so a key whose
# operator was rewritten since its last green driver row may be seeded
# here for ONE round to jump the queue (r11 seeded the six
# most-rewritten keys; all six re-witnessed green in CORRECTNESS_r11,
# so r12 unpinned them per the r11 verdict ask #1 and the window is
# pure staleness order again — draining the r05-vintage tail).
#
# r14: the 15 r13-seeded keys all re-witnessed green in CORRECTNESS_r13
# (oracle keys PASS, rows-only keys ran with rows), so the list is
# emptied per the documented one-round policy (VERDICT r13 ask #8) and
# the window returns to pure staleness order. Lanes whose internals
# change in r14 without changing declared output (checkpoint cadence,
# shuffle reuse) keep their oracle semantics bit-identical and are
# re-proven by the local driver-contract run, so no new seeds.
#
# Seeded for one round: the three lanes moved onto joins.salted_join
# (its salt differs from their old ones, the output must not), and the
# r14-rewritten lanes that no driver run has re-witnessed yet, and the
# two PageRank lanes moved onto the adjacency-list loop (same integer
# contributions, so q_pagerank_portable's output must not change).
# Also the PDF-reading lanes, whose lexers now jump by regex search
# (same spans, so the extracted text must not change), and the lanes
# whose result or reference dimensions are now built as Arrow local
# tables (same rows and types). Then every oracle lane whose per-row
# Python stage moved onto operators/rowmap.map_rows (same rows and
# types; only the batch assembly changed).
_MANUAL_PRIORITY: list[str] = [
    "q_semantic_dedup",
    "q_embedding_neardup_portable",
    "q_salted_join",
    "q_rfm_segments",
    "q_star_join",
    "q_groupby_agg",
    "q_pagerank_portable",
    "q_pagerank",
    "q_letter_roundtrip",
    "q_stream_quarantine",
    "q_pdf_extract",
    "q_doc_text_extract",
    "q_ref_dim_join",
    "q_ref_crs_diff",
    "q_ref_state_coverage",
    "q_image_stats",
    "q_frame_stats",
    "q_image_dhash_neardup",
    "q_audio_energy",
    "q_jpeg_stats",
    "q_gif_stats",
    "q_bmp_stats",
    "q_zip_ingest",
    "q_archive_decode",
    "q_tiff_stats",
    "q_wav_energy",
    "q_mjpeg_stats",
    "q_flac_energy",
    "q_jpeg_progressive_stats",
    "q_docx_extract",
    "q_ref_template_extract",
    "q_report_archive_extract",
    "q_quarantine_stats",
]


def _witness_rounds() -> dict[str, int]:
    """key → latest round whose committed CORRECTNESS ledger shows a
    SUCCESSFUL driver run (oracle green, or rows-only ran)."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        n = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            ok = (err is None or err == "no_oracle") and all(
                row.get(f) is not False
                for f in ("rows_match", "schema_match", "hash_match")
            )
            if ok:
                rounds[key] = max(rounds.get(key, 0), n)
    return rounds


def _driver_order() -> list[str]:
    seen = _witness_rounds()
    reg_pos = {k: i for i, k in enumerate(QUERIES)}
    pri = [k for k in _MANUAL_PRIORITY if k in QUERIES]

    def sort_key(k: str) -> tuple:
        witnessed = k in seen
        oracle_rank = 0 if k in ORACLES else 1
        if not witnessed:
            return (0, oracle_rank, reg_pos[k])
        return (1, seen[k], reg_pos[k])

    rest = sorted((k for k in QUERIES if k not in pri), key=sort_key)
    return pri + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator key (SURVEY.md §2)."""
    return {k: QUERIES[k] for k in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per key; keys absent here are rows-only by
    design (streaming state, LSH approximations, executor-side sinks)."""
    return {k: ORACLES[k] for k in _driver_order() if k in ORACLES}
