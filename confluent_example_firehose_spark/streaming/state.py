"""Keyed state with TTL + size-cap eviction — the Guava cache twin.

Reference (AbstractPrometheusFirehose.java:20-30): gauge cache with
initialCapacity(1000), maximumSize(10000) LRU, expireAfterAccess(10 min),
and a removal listener unregistering evicted series.

Spark twin: applyInPandasWithState with ProcessingTimeTimeout. Each
key's GroupState holds (last_value, last_ts, last_eid, n_events); the timeout is
reset on every access (= expireAfterAccess semantics); on timeout the
state is removed and a tombstone row is emitted (= removal listener).

The 10k max-size LRU cap has no per-key-state twin in Spark (state is
partitioned; no global LRU exists). Documented decision (SURVEY.md §7):
the cap is a Prometheus-client memory guard, not query semantics; at
scale the watermark/TTL bounds state instead. A per-partition
approximation (cap state rows per partition) would be possible inside
the handler but silently changes results, so we don't.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, event_type string, last_value double, "
    "last_ts timestamp, n_events long, evicted boolean"
)
# event_id kept in state so the cross-batch tiebreak matches the batch
# path's max_by(value, struct(ts, event_id)) total order exactly
STATE_SCHEMA = (
    "last_value double, last_ts timestamp, last_eid long, n_events long"
)

DEFAULT_TTL_MS = 10 * 60 * 1000  # expireAfterAccess(10, MINUTES)


def _keyed_ttl(
    events: DataFrame,
    timeout: str,
    live: Callable[[Iterator[pd.DataFrame], GroupState, Callable], list],
) -> DataFrame:
    """applyInPandasWithState over (user_id, event_type) with the one
    eviction both TTL clocks share: a timed-out key drops its state and
    emits it as one tombstone row (the removal-listener twin). A key
    with data goes to `live(pdfs, state, row)`, which updates the state
    and returns its output rows, each built by `row(last_value,
    last_ts, n_events, evicted)`."""

    def handle(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id, event_type = key

        def row(last_value, last_ts, n_events, evicted) -> dict:
            return {
                "user_id": user_id,
                "event_type": event_type,
                "last_value": last_value,
                "last_ts": last_ts,
                "n_events": n_events,
                "evicted": evicted,
            }

        if state.hasTimedOut:
            last_value, last_ts, _last_eid, n_events = state.get
            state.remove()
            rows = [row(last_value, last_ts, n_events, True)]
        else:
            rows = live(pdfs, state, row)
        if rows:
            yield pd.DataFrame(rows)

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        handle, OUTPUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )


def ttl_latest_value_event_time(
    events: DataFrame, ttl: "pd.Timedelta"
) -> DataFrame:
    """Keyed TTL eviction on the EVENT-TIME clock (r6, VERDICT r5 item
    5): a key's state is evicted when its event-time gap exceeds `ttl`
    — detected in-handler when the key's next event arrives (mid-stream
    closures), or by EventTimeTimeout when the WATERMARK passes
    last_ts + ttl and no event came (trailing closures). Because staged
    files arrive in disjoint ascending ts ranges, a watermark-fired
    eviction can only happen where the next event (if any) would also
    be gap-evicted — the two mechanisms agree, so the emitted eviction
    set is a PURE FUNCTION of the data (per-key sessionization at gap
    `ttl`, trailing sessions closed iff last_ts + ttl < final
    watermark), which is what makes this variant oracle-checkable where
    the wall-clock ProcessingTimeTimeout twin (ttl_latest_value) is
    inherently not. `events` must carry a watermark already.

    Emits ONLY eviction tombstones (closed sessions): live-state rows
    per batch would re-introduce batch-boundary dependence.

    Engine-boundary note: timeout timestamps are ms-floored (Spark's
    watermark clock is ms) while the oracle compares full-microsecond
    values — divergence needs a gap within 1 ms of the threshold;
    timestamps here are microsecond-random, so the window is
    measure-zero (and diagnosable: the driver hash would flag it)."""

    def live(
        pdfs: Iterator[pd.DataFrame], state: GroupState, row: Callable
    ) -> list[dict]:
        from datetime import datetime

        last_value, last_ts, last_eid, n_events = (
            state.get if state.exists else (None, None, None, 0)
        )
        chunks = [c for c in pdfs if not c.empty]
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame()
        )
        out_rows: list[dict] = []
        if not pdf.empty:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples():
                ts = r.ts.to_pydatetime()
                if last_ts is not None and (ts - last_ts) > ttl:
                    out_rows.append(row(last_value, last_ts, n_events, True))
                    last_value, last_ts, last_eid, n_events = (
                        None,
                        None,
                        None,
                        0,
                    )
                if last_ts is None or (ts, int(r.event_id)) > (
                    last_ts,
                    last_eid,
                ):
                    last_value = float(r.value)
                    last_ts = ts
                    last_eid = int(r.event_id)
                n_events += 1
        if last_ts is not None:
            state.update((last_value, last_ts, last_eid, n_events))
            # arm the event-time timer: fires when the watermark passes
            # last_ts + ttl and no further events came for the key.
            # Naive datetimes are session-UTC; epoch via a fixed epoch
            # origin (datetime.timestamp() would re-interpret the naive
            # value in the process-local tz).
            deadline = last_ts + ttl
            epoch_ms = int(
                (deadline - datetime(1970, 1, 1)).total_seconds() * 1000
            )
            state.setTimeoutTimestamp(epoch_ms)
        return out_rows

    return _keyed_ttl(events, GroupStateTimeout.EventTimeTimeout, live)


def ttl_latest_value(events: DataFrame, ttl_ms: int = DEFAULT_TTL_MS) -> DataFrame:
    """Streaming keyed latest-value table with idle-TTL eviction."""

    def live(
        pdfs: Iterator[pd.DataFrame], state: GroupState, row: Callable
    ) -> list[dict]:
        last_value, last_ts, last_eid, n_events = (
            state.get if state.exists else (None, None, None, 0)
        )
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            tail = pdf.iloc[-1]
            if last_ts is None or (tail["ts"].to_pydatetime(), int(tail["event_id"])) > (
                last_ts,
                last_eid,
            ):
                last_value = float(tail["value"])
                last_ts = tail["ts"].to_pydatetime()
                last_eid = int(tail["event_id"])
            n_events += len(pdf)
        state.update((last_value, last_ts, last_eid, n_events))
        # expireAfterAccess: every touch re-arms the idle timer.
        state.setTimeoutDuration(ttl_ms)
        return [row(last_value, last_ts, n_events, False)]

    return _keyed_ttl(events, GroupStateTimeout.ProcessingTimeTimeout, live)
