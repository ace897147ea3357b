"""The wizard step state machine (SURVEY §2.7 T1, §4.3 #3) as a custom
stateful operator.

The reference keeps a per-user ``step`` (1-4) with clamped transitions in
BOTH directions (App.js:706 ``Math.min(s+1,4)`` advance, App.js:720
``Math.max(s-1,1)`` retreat), persists it across requests (sessionStorage
``thg_session_v1``, App.js:286-310 restore-on-load), and aborts stale
flows (App.js:142-147). Three faithful Spark forms share ONE transition
core (:func:`_replay_core`):

- **Streaming**: ``applyInPandasWithState`` keyed by user with an
  event-time timeout — per-key state is expired at
  ``last_event + stale_timeout`` past the watermark, emitting the
  in-flight run as ``in_progress`` (the reference's stale-abort made
  explicit; also what bounds state-store growth at 100 TB key counts).
- **Batch replay**: a sorted ``mapInPandas`` stream replays the event log in
  time order — used for backfill and as the differential check of the
  streaming operator.
- **transformWithStateInPandas**: the Spark-4 arbitrary-state API;
  gated on protobuf (:func:`has_transform_with_state_runtime`).

Event→transition mapping on the generic corpus stream: signup=start(1),
view=advance, click=advance, purchase=submit (complete at step 4),
error=abort (reset), back=retreat (clamped at 1), restore=jump to
``props.step`` clamped to [1,4] (the sessionStorage restore path).
Only advance events can complete a run — retreat/restore never trigger
the submit branch, mirroring the UI (submit is its own action,
App.js:444).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUTPUT_SCHEMA = (
    "user_id bigint, outcome string, final_step int, n_events bigint, "
    "started_ts timestamp, ended_ts timestamp"
)

# step transition per event type; clamped to [1,4] (App.js:706/720)
_ADVANCE = {"signup": 1, "view": 1, "click": 1, "purchase": 1}
_RETREAT = {"back", "prev"}
_RESTORE = "restore"


def _restored_step(props) -> int:
    """sessionStorage restore payload → step, clamped to [1,4]
    (App.js:286-310 reads ``thg_session_v1.step``; malformed → 1)."""
    try:
        return min(max(int(json.loads(props).get("step", 1)), 1), 4)
    except (TypeError, ValueError, AttributeError):
        return 1


def _replay_core(uid, event_types, tss, propss, step, n, start, last):
    """Replay ordered events through the clamped step machine from a
    carried state; returns (emitted rows, final (step, n, start, last)).

    The replay is inherently sequential (state feeds forward), so a
    Python loop over pre-extracted numpy columns IS the vectorized form —
    zip over arrays, never ``iterrows`` (~5× per-row Series cost,
    PERFORMANCE.md). props is only parsed on the rare restore events.
    """
    out = []
    for i, (et, ts_) in enumerate(zip(event_types, tss)):
        last = ts_
        if start is None:
            start = ts_
        n += 1
        if et == "error":
            out.append((uid, "aborted", step, n, start, ts_))
            step, n, start = 0, 0, None
            continue
        if et in _RETREAT:
            # App.js:720 Math.max(s-1,1): clamped at 1; a retreat with no
            # open run opens one at step 1 (the literal clamp).
            step = max(step - 1, 1)
            continue
        if et == _RESTORE:
            step = _restored_step(propss[i] if propss is not None else None)
            continue
        step = min(step + _ADVANCE.get(et, 0), 4)
        if step >= 4:
            out.append((uid, "completed", step, n, start, ts_))
            step, n, start = 0, 0, None
    return out, (step, n, start, last)


def _wizard_stream(batches):
    """Sequential replay over a sorted per-partition Arrow stream; the
    machine state carries across user boundaries AND batch boundaries.
    Module-level (not a closure) so the empty-batch guard is unit-testable."""
    cols = ["user_id", "outcome", "final_step", "n_events", "started_ts", "ended_ts"]
    cur_uid = None
    step, n, start, last = 0, 0, None, None

    def flush():
        # trailing open run for the user we just finished
        if cur_uid is not None and n > 0:
            return [(cur_uid, "in_progress", step, n, start, last)]
        return []

    for pdf in batches:
        if len(pdf) == 0:
            # np.concatenate(([True], ...)) on an empty frame still
            # yields bounds=[0] and uids[0] raises (ADVICE r03)
            continue
        out = []
        uids = pdf["user_id"].to_numpy()
        # replay contiguous same-user runs without per-user frames
        import numpy as np

        bounds = np.flatnonzero(np.concatenate(([True], uids[1:] != uids[:-1])))
        for s0, s1 in zip(bounds, np.append(bounds[1:], len(uids))):
            uid = int(uids[s0])
            if uid != cur_uid:
                out.extend(flush())
                cur_uid, step, n, start, last = uid, 0, 0, None, None
            seg = pdf.iloc[s0:s1]
            propss = seg["props"].to_numpy() if "props" in seg.columns else None
            rows, (step, n, start, last) = _replay_core(
                uid, seg["event_type"].to_numpy(), seg["ts"].to_numpy(),
                propss, step, n, start, last,
            )
            out.extend(rows)
        if out:  # empty frames mis-infer dtypes (float64 -> timestamp cast fails)
            yield pd.DataFrame(out, columns=cols)
    tail = flush()
    if tail:
        yield pd.DataFrame(tail, columns=cols)


def wizard_outcomes_batch(events: DataFrame) -> DataFrame:
    """Batch replay as ONE sorted mapInPandas stream per partition
    (same shuffle applyInPandas per user would pay, minus the per-group
    Arrow-frame overhead that made the capped sessionizer 5× slower —
    PERFORMANCE.md §19): repartition on user_id, sort (user_id, ts,
    event_id) within partitions, replay sequentially with the machine
    state carried across both user boundaries and Arrow batch
    boundaries. Per-user state is O(1) — holds at any scale."""
    return (
        events.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(_wizard_stream, OUTPUT_SCHEMA)
    )


def has_transform_with_state_runtime() -> bool:
    """transformWithStateInPandas needs protobuf in the Python runtime
    (its driver-worker protocol); absent in this container → the
    applyInPandasWithState form below is the portable default."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def wizard_outcomes_stream(
    events_stream: DataFrame,
    watermark: str = "2 hours",
    stale_timeout_minutes: int = 30,
) -> DataFrame:
    """Streaming form via ``applyInPandasWithState``: per-key group state
    carrying (step, n, start_us, last_us). Emits completed/aborted runs
    as they happen; an idle in-flight run is expired by an EVENT-TIME
    timeout at ``last_event + stale_timeout`` once the watermark passes
    it, emitting the run as ``in_progress`` — the same row class the
    batch replay emits for trailing runs, and the reference's
    stale-abort (App.js:142-147). Without the timeout, per-user state
    would live forever for users that never complete/abort (unbounded
    state-store growth)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_struct = StructType(
        [
            StructField("user_id", LongType()),
            StructField("outcome", StringType()),
            StructField("final_step", IntegerType()),
            StructField("n_events", LongType()),
            StructField("started_ts", TimestampType()),
            StructField("ended_ts", TimestampType()),
        ]
    )
    # timestamps stored as epoch-micros longs: group state tuples are
    # plain python values, keep them primitive
    state_struct = StructType(
        [
            StructField("step", IntegerType()),
            StructField("n", LongType()),
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
        ]
    )
    stale_ms = stale_timeout_minutes * 60 * 1000

    def _to_us(ts) -> int:
        return int(pd.Timestamp(ts).value // 1000)

    def _from_us(us: int):
        return pd.Timestamp(us * 1000)

    def process(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        uid = key[0]
        cols = ["user_id", "outcome", "final_step", "n_events", "started_ts", "ended_ts"]
        if state.hasTimedOut:
            # stale-abort: flush the in-flight run as in_progress (the
            # batch twin's trailing-row class) and free the key's state.
            step, n, start_us, last_us = state.get  # GroupState.get is a property
            state.remove()
            if n > 0:
                yield pd.DataFrame(
                    [(uid, "in_progress", step, n, _from_us(start_us), _from_us(last_us))],
                    columns=cols,
                )
            return
        step, n, start_us, last_us = state.get if state.exists else (0, 0, -1, -1)
        batch = pd.concat(list(pdf_iter), ignore_index=True).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        start = _from_us(start_us) if start_us >= 0 else None
        last = _from_us(last_us) if last_us >= 0 else None
        propss = batch["props"].to_numpy() if "props" in batch.columns else None
        out, (step, n, start, last) = _replay_core(
            uid,
            batch["event_type"].to_numpy(),
            batch["ts"].to_numpy(),
            propss,
            step,
            n,
            start,
            last,
        )
        if n > 0 or last is not None:
            last_us = _to_us(last)
            state.update((step, n, _to_us(start) if start is not None else -1, last_us))
            # expire this key once the watermark passes last+stale; the
            # timestamp must exceed the current watermark or Spark rejects
            # it, hence the max().
            state.setTimeoutTimestamp(
                max(last_us // 1000 + stale_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            process, out_struct, state_struct, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def wizard_outcomes_stream_tws(events_stream: DataFrame) -> DataFrame:
    """Spark-4 ``transformWithStateInPandas`` form (value state per key).
    Requires protobuf in the Python runtime
    (:func:`has_transform_with_state_runtime`) and the RocksDB state
    store; functionally identical to :func:`wizard_outcomes_stream`
    (state expiry would use ``registerTimer`` in this API)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (  # noqa: F401 (used below)
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_struct = StructType(
        [
            StructField("user_id", LongType()),
            StructField("outcome", StringType()),
            StructField("final_step", IntegerType()),
            StructField("n_events", LongType()),
            StructField("started_ts", TimestampType()),
            StructField("ended_ts", TimestampType()),
        ]
    )
    state_struct = StructType(
        [
            StructField("step", IntegerType()),
            StructField("n", LongType()),
            StructField("start", TimestampType()),
        ]
    )

    # transformWithState requires the RocksDB state store (the HDFS-backed
    # default store doesn't implement the new multi-state API).
    events_stream.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class WizardProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("wizard", state_struct)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            uid = key[0]
            if self.state.exists():
                step, n, start = self.state.get()
            else:
                step, n, start = 0, 0, None
            batch = pd.concat(list(rows), ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            propss = batch["props"].to_numpy() if "props" in batch.columns else None
            out, (step, n, start, _last) = _replay_core(
                uid,
                batch["event_type"].to_numpy(),
                batch["ts"].to_numpy(),
                propss,
                step,
                n,
                start,
                None,
            )
            self.state.update((step, n, start))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "user_id", "outcome", "final_step", "n_events", "started_ts", "ended_ts",
                    ],
                )

        def close(self) -> None:
            pass

    return events_stream.groupBy("user_id").transformWithStateInPandas(
        WizardProcessor(),
        outputStructType=out_struct,
        outputMode="Append",
        timeMode="None",
    )
