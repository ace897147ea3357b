#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced through the noop sink (full materialization of every
output column — ``count()`` would let Catalyst prune the projections we
mean to measure). Timings include plan+execute, not session startup.

Two outputs (r04 split — the r03 line embedded per-query dicts, overflowed
the driver's 2000-char stdout tail, and was recorded as ``parsed: null``):

- stdout: the driver-spec line, ``"queries": {key: seconds}`` ONLY, kept
  small enough to always survive the tail window;
- ``BENCH_DETAIL.json`` beside this file: per-query static plan exchange
  counts, EXECUTED shuffle-stage counts and shuffle-write MB accumulated
  across ALL jobs the query triggers (the r03 verdict's ask #3 — iterative
  operators like connected components shuffle once per round in separate
  jobs, invisible to a final-plan count), cc rounds, and deltas vs the
  last parseable round.

r05 protocol (VERDICT r04 ask #1): median-of-3 full build+materialize
iterations per query with per-query min/max spread recorded, a sentinel
query interleaved every 10 keys to expose within-run machine drift
(``sentinel_drift_x`` on the stdout line), and the 1-minute load average
recorded — so a round-over-round wall delta can be attributed to code
vs environment instead of the r04 situation (1.49x swing on identical
plans, unexplainable from the artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from automated_property_data_ingestion_document_pipeline_spark.session import get_spark
from automated_property_data_ingestion_document_pipeline_spark.plans import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Optional comma-separated key subset (targeted re-measurement under a
# quiet machine — e.g. re-confirming a flagged regression without the
# 40 s full-set run). The driver never sets this; the full HEADLINE set
# stays the contract.
KEYS_FILTER = [k for k in os.environ.get("SPARK_GRAFT_KEYS", "").split(",") if k]

# Headline set: one per operator family — scan, scalar-heavy projection,
# JSON ingest, star join, Q1 agg, top-k, ranking window, sessionization,
# tumbling window, as-of join, wordcount, exact dedup, fingerprint, knn,
# letter render, last-win dedup.
HEADLINE = [
    "q_scan_count",
    "q_json_ingest",
    "q_currency_format",
    "q_letter_text",
    "q_engagement_pipeline",
    "q_star_join",
    "q_groupby_agg",
    "q_topk",
    "q_window_rank",
    "q_dedup_lastwin",
    "q_sessionize",
    "q_tumbling_window",
    "q_asof_join",
    "q_wordcount",
    "q_doc_dedup",
    "q_fingerprint",
    "q_knn",
    "q_simhash",
    "q_minhash_neardup",
    "q_neardup_clusters",
    "q_resample_ffill",
    # round-3 additions: heaviest new shapes
    "q_sql_tpch_q8",
    "q_unigram_logfreq",
    "q_chunk_overlap",
    "q_knn_pq",
    "q_salted_join",
    "q_fuzzy_match",
    "q_sessionize_capped",
    "q_curation_pipeline2",
    "q_asof_nearest",
    "q_wizard_steps",
    "q_resample_bfill",
    "q_resample_interp",
    # round-4 additions: layout roundtrips + skew variants
    "q_zorder_prune",
    "q_time_travel",
    "q_sessionize_skew",
    "q_sessionize_capped_skew",
    "q_window_rank_skew",
    "q_sessionize_twophase",
    # round-4 additions: new operator families' heaviest members
    "q_triangle_count",
    "q_geo_radius_join",
    "q_interval_coverage",
    # round-4 wave 2: stats / time-series / retrieval heavies
    "q_dup_spans",
    "q_bm25",
    "q_mad_outliers",
    "q_corr_matrix",
    "q_skipgram_pmi",
    "q_telemetry_pipeline",
    # round-4 session 2: ML eval / feature / graph heavies
    "q_auc_exact",
    "q_rfm_segments",
    "q_bigram_probs",
    "q_shortest_path",
    "q_minhash_portable",
    # round-5: heaviest members of the families entering the driver
    # window this round (CDC, survival, retrieval, semantic dedup,
    # revenue composites, the new JPEG decode lane)
    "q_scd2_merge",
    "q_kaplan_meier",
    "q_inverted_index",
    "q_semantic_dedup",
    "q_revenue_bridge",
    "q_jpeg_stats",
    # round-6: the new decode lanes (SOF2 scan machinery, rice-coded
    # FLAC entropy loops, AVI container walk + per-frame JPEG decode)
    "q_jpeg_progressive_stats",
    "q_flac_energy",
    "q_mjpeg_stats",
    "q_gif_stats",
    "q_bmp_stats",
    "q_tiff_stats",
    # round-13: perceptual image near-dup (codec path + banded Hamming)
    "q_image_dhash_neardup",
    "q_zip_ingest",
    "q_archive_decode",
    "q_pdf_extract",
    # round-7: the S7 read half (OOXML zip+XML parse) and the
    # end-to-end letter render→extract roundtrip (DOCX + PDF writers)
    "q_docx_extract",
    "q_letter_roundtrip",
    # round-7: portable twins upgrading the last rows-only algorithm
    # families (iterative graph rank, sign-LSH embedding near-dup) to
    # oracle-backed
    "q_pagerank_portable",
    "q_embedding_neardup_portable",
    # round-8: the real-template render→extract lane and the
    # archive-of-reports S9×S8 composition
    "q_ref_template_extract",
    "q_report_archive_extract",
    "q_doc_text_extract",
    # round-9: the dead-letter taxonomy rollup (9 payload classes incl.
    # the password-protected refusal) — quarantine proven end-to-end
    "q_quarantine_stats",
    # round-10: the streaming dead-letter parity lane (foreachBatch
    # quarantine sink, same oracle as the batch twin)
    "q_stream_quarantine",
    # round-10: winnowing fingerprints (MOSS) — the third substring-
    # duplication family member, oracle-backed
    "q_winnowing",
    # round-10: the incremental delta-vs-base near-dup probe (the
    # dedup-at-ingest production shape)
    "q_neardup_incremental",
    # round-11: exact longest-shared-run via anchor diagonals (the
    # heaviest new shape — corpus-scale anchor self-join + island window)
    # and its winnowing DOC-gated twin (identical output; the anchor
    # join runs only over docs sharing >=1 fingerprint with anyone)
    "q_longest_match",
    "q_longest_match_winnowed",
    # round-12: train/eval decontamination over the persisted anchor
    # base (the eval-sweep production shape)
    "q_decontaminate_longmatch",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _trim_second(v: float) -> float | int:
    """Last-rung per-key value: 1-decimal rounding, with integral results
    emitted as ints to save the '.0' (r13 rung). The int() must wrap the
    ROUNDED value: ``int(v)`` truncated 0.96 → 0 (recorded as dropped by
    the driver, VERDICT r13 'What's wrong' #1)."""
    r = round(v, 1)
    return int(r) if r.is_integer() else r


def exchange_count(df) -> int:
    """Number of Exchange nodes in the STATIC physical plan (pre-AQE,
    deterministic across runs) — the plan-shape regression signal the
    r02 q_asof_join fix is pinned by. Misses per-round shuffles of
    iterative operators; see :func:`shuffle_snapshot` for those."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def shuffle_snapshot(spark) -> tuple[int, int]:
    """(shuffle-writing stage count, total shuffle write bytes) across
    the WHOLE app so far, read from the AppStatusStore after draining
    the listener bus. Diffing snapshots around a query brackets every
    job it ran — including the per-round jobs of iterative operators
    (connected components, k-means sweeps) that a final-plan Exchange
    count can't see (VERDICT r03 'What's wrong' #2). Skipped (reused)
    stages report zero write and correctly don't count."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    n, total = 0, 0
    for i in range(stages.size()):
        s = stages.apply(i)
        w = s.shuffleWriteBytes()
        if w > 0:
            n += 1
            total += w
    return n, total


def preflight_quiet(
    sentinel_run,
    max_spread: float = 1.3,
    max_load: float = 4.0,
    attempts: int = 4,
    backoffs: tuple = (30, 60, 120),
) -> tuple[bool, list]:
    """Machine-quiet gate (r12, verdict ask #2): the r11 bench session
    ran under 3.56x sentinel drift and its headline number could not
    evidence that round's real perf work — adjudicating 'code vs
    environment' by argument instead of measurement. Before the timed
    loop, run the ~100 ms sentinel 5x and require max/median <=
    ``max_spread`` AND 1-minute loadavg <= ``max_load`` (drift is the
    primary signal — the r11 noise showed loadavg 1.85 on 32 CPUs, so
    the load bound only catches gross co-tenancy). On failure, back
    off 30/60/120 s and retry up to ``attempts`` times; if the machine
    never quiets, RUN ANYWAY and stamp ``degraded: true`` on the
    driver line so the round's verdict can discount the denominator
    mechanically. Returns (quiet, per-attempt history)."""
    history: list[dict] = []
    for attempt in range(max(1, attempts)):
        runs = [sentinel_run() for _ in range(5)]
        med = sorted(runs)[len(runs) // 2]
        spread = round(max(runs) / med, 2) if med > 0 else None
        try:
            load = round(os.getloadavg()[0], 2)
        except OSError:
            load = 0.0
        # median_sec is the ABSOLUTE machine floor (r13): relative
        # spread can pass while the whole host runs slow (observed:
        # three same-code same-idle dev runs at 128/141/154 s totals,
        # every gate green) — recording the sentinel's absolute median
        # lets a cross-round delta be discounted by floor shift
        # mechanically instead of by argument.
        history.append(
            {"spread": spread, "loadavg_1m": load, "median_sec": med}
        )
        if spread is not None and spread <= max_spread and load <= max_load:
            return True, history
        if attempt + 1 < max(1, attempts):
            time.sleep(backoffs[min(attempt, len(backoffs) - 1)])
    return False, history


# The pre-flight quiet gate first ran in round 12 (verdict r11 ask #2);
# earlier rounds have no machine-quiet evidence, so their numbers are
# not valid cross-round denominators (r11 ran at 3.56x sentinel drift).
_FIRST_GATED_ROUND = 12


def load_round_baseline(here: str | None = None) -> tuple[str, dict, bool] | None:
    """Latest GATE-PASSING BENCH_r{N}.json in ``here`` (default: beside
    this file) →
    (name, per-query secs, gate_passing). Gate-passing = the round ran
    under the pre-flight quiet gate (N >= 12) and was not stamped
    ``degraded`` (a false flag is DELETED from the line to fit the
    driver's 2000-char tail, so absence means passed). Falls back to
    the latest merely-PARSEABLE round — flagged gate_passing=False so
    BENCH_DETAIL records that the delta_x denominator is unquiet —
    r03-style ``parsed: null`` artifacts are skipped either way."""
    import glob
    import re

    here = here or os.path.dirname(os.path.abspath(__file__))
    # r14: match ONLY the canonical BENCH_r{N}.json — the driver also
    # writes suffixed variants at other core counts (BENCH_r13_c8.json,
    # the 8-core scaling run) and the loose prefix match here picked one
    # of those as the delta_x denominator, comparing a 32-core run
    # against an 8-core baseline.
    rounds = sorted(
        (
            p
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if re.search(r"BENCH_r(\d+)\.json$", p)
        ),
        key=lambda p: int(re.search(r"BENCH_r(\d+)\.json$", p).group(1)),
        reverse=True,
    )
    fallback: tuple[str, dict, bool] | None = None
    for path in rounds:
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed") or {}
            queries = parsed.get("queries") or {}
        except (OSError, ValueError, AttributeError):
            continue
        if not queries:
            continue
        n = int(re.search(r"BENCH_r(\d+)", path).group(1))
        gate_ok = n >= _FIRST_GATED_ROUND and not parsed.get("degraded", False)
        if gate_ok:
            return os.path.basename(path), queries, True
        if fallback is None:
            fallback = (os.path.basename(path), queries, False)
    return fallback


def main() -> None:
    sf = float(os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "") or "0.1")
    # the driver records only a 2000-char stdout tail: Spark's console
    # progress bar interleaves ~90 chars of \r-junk ahead of the spec
    # line in that tail (see BENCH_r09.json "tail"), so it is disabled
    # HERE, before the session exists — that junk is exactly the
    # headroom the 78-key line needs (r10; see the size guard below)
    spark = get_spark(
        app_name="apdidp-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/scan path once so per-query numbers measure the plan,
    # not first-touch class loading.
    materialize(QUERIES["q_scan_count"](spark, SF_DIR))

    from automated_property_data_ingestion_document_pipeline_spark.operators import dedup

    # --- r05 protocol (VERDICT r04 ask #1) ---------------------------
    # The r04 best-of-2 gate (`exec_s < 4.0`) let exactly the slowest —
    # most suspicious — queries keep their single cold measurement
    # (q_simhash at 4.18 s never got a second run), so a 1.49x
    # round-over-round wall swing on identical plans could not be
    # attributed.  Now every query runs THREE full build+materialize
    # iterations; the reported number is the MEDIAN and the min/max
    # spread is recorded per query, so a future delta can be judged
    # against the same-run noise floor.  A sentinel (q_scan_count)
    # re-runs every 10 keys to expose within-run machine drift, and
    # 1-minute load averages bracket the run.
    REPS = 3
    SENTINEL_EVERY = 10
    sentinel_df = QUERIES["q_scan_count"](spark, SF_DIR)
    sentinels: list[float] = []

    def sentinel_once() -> float:
        t0 = time.perf_counter()
        materialize(sentinel_df)
        return round(time.perf_counter() - t0, 3)

    def run_sentinel() -> None:
        sentinels.append(sentinel_once())

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    total = 0.0
    # one discarded warm run: the first sentinel execution pays
    # first-touch costs (~2.5x steady state) and would dominate the
    # drift ratio, masking genuine mid-run machine shifts
    materialize(sentinel_df)
    # machine-quiet gate (r12): retry-with-backoff until the sentinel
    # spread and loadavg look quiet, else run anyway flagged degraded.
    # SPARK_GRAFT_QUIET_ATTEMPTS=1 skips the waiting (dev loops).
    quiet, preflight = preflight_quiet(
        sentinel_once,
        attempts=int(os.environ.get("SPARK_GRAFT_QUIET_ATTEMPTS", "4")),
    )
    run_sentinel()
    keys = [k for k in HEADLINE if k in KEYS_FILTER] if KEYS_FILTER else HEADLINE
    for i, key in enumerate(keys):
        if i and i % SENTINEL_EVERY == 0:
            run_sentinel()
        samples: list[float] = []
        nx = post_n = pre_n = post_bytes = pre_bytes = 0
        for rep in range(REPS):
            if rep == 0:
                pre_n, pre_bytes = shuffle_snapshot(spark)
            t0 = time.perf_counter()
            df = QUERIES[key](spark, SF_DIR)  # iterative ops run jobs HERE
            t_built = time.perf_counter()
            if rep == 0:
                nx = exchange_count(df)
            t1 = time.perf_counter()
            materialize(df)
            t2 = time.perf_counter()
            if rep == 0:
                # snapshot after exactly one execution so exchange/byte
                # deltas count one run (plus any build-time jobs)
                post_n, post_bytes = shuffle_snapshot(spark)
            # iterative operators (CC label propagation, k-means sweeps)
            # do their real work during construction; fold build time in
            # for those, plan-only build cost (ms) is noise for the rest.
            build_s = t_built - t0
            samples.append((t2 - t1) + (build_s if build_s > 0.2 else 0.0))
        sec = round(sorted(samples)[len(samples) // 2], 3)
        timings[key] = sec
        total += sec
        detail[key] = {
            "sec": sec,
            "spread": [round(min(samples), 3), round(max(samples), 3)],
            "exchanges_plan": nx,
            "exchanges_exec": post_n - pre_n,
            "shuffle_write_mb": round((post_bytes - pre_bytes) / 1e6, 2),
        }
        if key == "q_neardup_clusters":
            detail[key]["cc_rounds"] = dedup.LAST_CC_ROUNDS
    run_sentinel()
    # sentinel drift: slowest sentinel over the MEDIAN sentinel. The
    # sentinel is a ~60 ms scan at sf0.1, so its own noise floor is
    # ~2x; an r04-style machine degradation (queries 2-3x slower)
    # shows up as >3x here. Raw per-run times are in BENCH_DETAIL.
    med = sorted(sentinels)[len(sentinels) // 2]
    drift = round(max(sentinels) / med, 2) if med > 0 else None
    line = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        # 2-decimal on the driver line (r06: 66 keys at 3 decimals +
        # a regressions dict overflowed the 1900-char guard); full
        # 3-decimal timings live in BENCH_DETAIL.json
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "protocol": "median3",
        "sentinel_drift_x": drift,
        # r12 quiet gate: true = the pre-flight never saw a quiet
        # machine (sentinel spread <=1.3x, loadavg <=4) within its
        # backoff budget — discount this round's wall-clock deltas
        "degraded": not quiet,
    }
    detail_doc: dict = {"sf": sf, "queries": detail, "protocol": "median_of_3"}
    detail_doc["sentinel_secs"] = sentinels
    detail_doc["preflight"] = preflight
    detail_doc["degraded"] = not quiet
    try:
        detail_doc["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    baseline = load_round_baseline()
    if baseline:
        # pre-r03 rounds recorded bare seconds; normalize dict forms.
        name, base_q, gate_passing = baseline
        base_sec = {
            k: (v["sec"] if isinstance(v, dict) else v) for k, v in base_q.items()
        }
        detail_doc["baseline"] = name
        # r12 verdict ask #5: make the canonical denominator explicit —
        # delta_x compares against the last GATE-PASSING round, and the
        # flag below says whether one existed (False = unquiet fallback,
        # read deltas with suspicion).
        detail_doc["baseline_round"] = int(
            __import__("re").search(r"BENCH_r(\d+)", name).group(1)
        )
        detail_doc["baseline_gate_passing"] = gate_passing
        detail_doc["baseline_total"] = round(sum(base_sec.values()), 3)
        detail_doc["delta_x"] = {
            k: round(timings[k] / base_sec[k], 2) for k in timings if base_sec.get(k)
        }
        regressions = {k: d for k, d in detail_doc["delta_x"].items() if d > 1.15}
        if regressions:
            # top-5 worst on the driver line (size guard); full set is
            # BENCH_DETAIL's delta_x
            worst = sorted(regressions, key=regressions.get, reverse=True)[:5]
            line["regressions"] = {k: regressions[k] for k in worst}
    here = os.path.dirname(os.path.abspath(__file__))
    if not KEYS_FILTER:  # subset runs must not clobber the full record
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail_doc, f, indent=1, sort_keys=True)
    else:
        detail_doc["keys_filter"] = KEYS_FILTER
        print(json.dumps(detail_doc), file=sys.stderr)
    # compact separators (r07: 72 keys at 2 decimals overflowed even
    # after the regressions trim — ", "/": " padding alone is ~230
    # chars at this key count; compact JSON is still JSON to the driver)
    out = json.dumps(line, separators=(",", ":"))
    if len(out) >= 1850 and "regressions" in line:
        # last-resort trim: the full regression set lives in
        # BENCH_DETAIL's delta_x either way
        del line["regressions"]
        out = json.dumps(line, separators=(",", ":"))
    if len(out) >= 1950:
        # r11: 81 keys at 2 decimals brushed the guard — drop the
        # per-key precision to 1 decimal (BENCH_DETAIL keeps 3) before
        # ever failing the hard assert below
        line["queries"] = {k: round(v, 1) for k, v in timings.items()}
        out = json.dumps(line, separators=(",", ":"))
    if len(out) >= 1950:
        # r12: 82 keys + the quiet-gate field crossed the guard even at
        # 1 decimal. Next rungs, cheapest information first: a FALSE
        # degraded flag is the common case and its absence means the
        # same thing (BENCH_DETAIL always carries it), and "protocol"
        # is constant across rounds.
        if not line["degraded"]:
            del line["degraded"]
        line.pop("protocol", None)
        out = json.dumps(line, separators=(",", ":"))
    if len(out) >= 1950:
        # r13: the 83rd key (q_image_dhash_neardup) crossed even the r12
        # rungs and the hard assert below KILLED the run (rc=1 — worse
        # than any trimmed field). Next cheapest: sentinel_drift_x is
        # diagnostic (full history in BENCH_DETAIL's sentinel_secs /
        # preflight), and integral seconds don't need their '.0'.
        line.pop("sentinel_drift_x", None)
        # r14 fix (VERDICT r13 gate): the integral branch must integerize
        # the ROUNDED value — `int(v)` truncated v∈[n.95, n+1.0) to n
        # (q_curation_pipeline2 0.96 s printed as 0 and the driver
        # counted it dropped).
        line["queries"] = {k: _trim_second(v) for k, v in timings.items()}
        out = json.dumps(line, separators=(",", ":"))
    # hard guard: the driver records only a 2000-char tail of the
    # MERGED output stream; the spec line must never overflow it again
    # (r03 lesson). The line must be the LAST bytes of that stream —
    # junk BEFORE it merely fills the tail's head, junk AFTER it
    # evicts the line's head. Two defenses (r10): the console progress
    # bar is off (no \r-junk can interleave INTO the line), and
    # spark.stop() runs BEFORE the print so JVM shutdown logging —
    # the only post-line writer this process has — precedes the line.
    # The 1950 bound leaves ~50 chars for interpreter-exit stragglers.
    spark.stop()
    # r13: 1950 -> 1975. At 83 keys the fully-trimmed line is ~1935
    # chars and a degraded-true stamp (+16) must still FIT — killing the
    # whole run on the assert is strictly worse than 25 chars of slack
    # for interpreter-exit stragglers (spark.stop() already ran, so the
    # JVM's shutdown logging — the only known post-line writer — is
    # done before the print).
    assert len(out) < 1975, f"bench line {len(out)} chars would overflow driver tail"
    print(out, flush=True)


if __name__ == "__main__":
    main()
