"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no streaming at all; this is the engine's "custom
operator" escape hatch (SURVEY.md §2.7): when no built-in stateful op
expresses the semantics, per-key state + Arrow-batched Python does —
here, a running per-user activity profile (event count, value total,
last-seen timestamp) maintained incrementally across micro-batches.

State is bounded two ways: per-key payload is O(1) (a 3-field tuple),
and a processing-time timeout clears keys idle longer than
``state_ttl_ms`` — the knobs that keep 100 TB of user history from
accumulating in executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE, last_event_id BIGINT"
# last_ts_ns rides the state so "last" is decided by (ts, event_id),
# not by arrival order: Arrow hands a big group to the update fn as
# MULTIPLE chunks in unspecified order, and a late micro-batch of older
# events must not regress the profile — both orderings are invisible
# without the champion timestamp persisted alongside the id
STATE_SCHEMA = "n BIGINT, total DOUBLE, last_id BIGINT, last_ts_ns BIGINT"


def track_user_activity(
    events: DataFrame,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Running per-user (count, value total, last event id), updated
    each micro-batch; emits the refreshed profile for users seen in the
    batch.

    ``state_ttl_ms`` arms ProcessingTimeTimeout eviction of idle users'
    state — the production knob for a continuous deployment. Leave it
    None for bounded (availableNow/test) runs: pending timeout timers
    keep an availableNow query spinning empty micro-batches until every
    timer fires, so the query never terminates.
    """
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, total, last_id, last_ts_ns = (
            state.get if state.exists else (0, 0.0, -1, -1)
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            total += float(pdf["value"].sum())
            # chunk champion: max (ts, event_id) — compared against the
            # running champion so neither chunk order within a batch
            # nor an out-of-order later batch can regress the profile.
            # All-null ts chunk => NaT max: skip the champion update
            # (int(NaN) raised and killed the whole query on one dirty
            # row); the rows still count toward n/total
            mx = pdf["ts"].max()
            if pd.isna(mx):
                continue
            cand_id = int(pdf.loc[pdf["ts"] == mx, "event_id"].max())
            cand_ns = int(pd.Timestamp(mx).value)
            if (cand_ns, cand_id) > (last_ts_ns, last_id):
                last_ts_ns, last_id = cand_ns, cand_id
        # state carries the RAW running total — rounding on store
        # re-rounded per micro-batch and accumulated drift vs the batch
        # twin (3 batches of 0.004 summed to 0.0 instead of 0.01);
        # round only on emit
        state.update((n, total, last_id, last_ts_ns))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_event_id": [last_id],
            }
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )
