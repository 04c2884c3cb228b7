"""Threshold-transition alerting over explicit keyed streaming state.

The monitoring twin of the batch ``rolling_anomaly`` query: per key,
classify each event against a threshold and emit a row ONLY when the
level CHANGES (OK→ALERT on crossing up, ALERT→OK on recovery).  An
always-emit design would re-announce a stuck-high sensor every event;
transition-only output is what pagers want, and it needs exactly one
remembered level per key — explicit keyed state.

Implemented on ``applyInPandasWithState``: state is ONE (level string)
tuple per key, with no timeout, so a key's state lives as long as the
query.

Scale shape: one exchange on the key (the grouping the stateful
operator always needs), state = ONE fixed-width row per key — bounded
by key cardinality, independent of event volume.  The per-batch kernel
is vectorized numpy over the key's Arrow batch, never per-row Python in
the hot loop.

Ordering: events are processed in (ts, event_id) order WITHIN each
micro-batch; cross-batch order is the file/source arrival order, the
standard contract for processing-time stateful operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

ALERT_THRESHOLD = 90.0

ALERT_OUTPUT = (
    "user_id bigint, ts timestamp, value double, "
    "level string, prev_level string"
)


def _transition_frame(chunks, prev: str, threshold: float, key):
    """Vectorized transition kernel: concat the key's Arrow chunks, ONE
    global (ts, event_id) sort, classify, return
    (transitions-DataFrame-or-None, new last level).  The concat happens
    BEFORE the sort — chunk-local sorting would classify an out-of-order
    later chunk against the wrong running level (sessions.py idiom).
    Per-key per-batch memory, the same bound the sessionizer accepts."""
    import numpy as np

    chunks = list(chunks)
    if not chunks:
        return None, prev
    pdf = pd.concat(chunks, ignore_index=True)
    if pdf.empty:
        return None, prev
    pdf = pdf.sort_values(["ts", "event_id"])
    levels = np.where(pdf["value"].to_numpy() > threshold, "ALERT", "OK")
    before = np.concatenate(([prev], levels[:-1]))
    mask = levels != before
    out = None
    if mask.any():
        out = pd.DataFrame(
            {
                "user_id": np.full(int(mask.sum()), key, dtype="int64"),
                "ts": pdf["ts"].to_numpy()[mask],
                "value": pdf["value"].to_numpy()[mask],
                "level": levels[mask],
                "prev_level": before[mask],
            }
        )
    return out, str(levels[-1])


def threshold_alert_stream(
    events: DataFrame, *, threshold: float = ALERT_THRESHOLD
) -> DataFrame:
    """Transition-only alert stream over (user_id, ts, event_id, value).

    Works on a streaming OR batch ``events`` frame — the batch run is the
    parity harness for the streaming semantics."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StringType, StructField, StructType

    state_schema = StructType([StructField("level", StringType())])

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev = state.get[0] if state.exists else "OK"
        out, prev = _transition_frame(pdfs, prev, threshold, key[0])
        if out is not None:
            yield out
        state.update((prev,))

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ALERT_OUTPUT,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
