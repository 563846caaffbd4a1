"""Custom stateful streaming operator: per-key violation streak alarm.

Demonstrates the engine's custom-stateful path
(``applyInPandasWithState``): track, per key (e.g. user_id, producer,
camera), the running streak of rows that violate the bound schema; emit
an alarm row whenever the streak crosses a threshold. The sort of
operator the reference's per-row hooks can't express (cross-row state)
and stock Spark aggregations can't either (ordered, resettable streak).

State = (streak:int, total_bad:int) per key. Pass ``idle_timeout_ms``
in production so a processing-time timeout drops state for idle keys —
state then stays bounded by the ACTIVE key set, not every key ever
seen. The default (None) keeps state forever: required for
``processAllAvailable()``-style draining (Spark schedules endless
"cleaning up state" maintenance batches under a processing-time
timeout, so drain-until-idle never terminates), acceptable only when
the key space is known to be small.
"""

from __future__ import annotations

from typing import Any, Iterable, Tuple

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..binding import bind
from ..schema import Schema
from ..session import python_kernel

ALARM_DDL = "key string, streak int, total_bad bigint, event_count bigint"
_STATE_DDL = "streak int, total_bad long"


def violation_streaks(
    schema: Schema,
    stream_df,
    *,
    key_col: str,
    ts_col: str,
    row_key: str,
    streak_threshold: int = 3,
    idle_timeout_ms: int | None = None,
    **bind_opts,
):
    """Streaming DataFrame of alarm rows (key, streak, total_bad,
    event_count), one per micro-batch per key whose violation streak
    REACHED the threshold within that batch (a batch with no new bad
    rows never re-emits a previously-reported streak). The bound
    constraint plan marks rows bad; state keeps the streak across
    batches. With ``idle_timeout_ms`` set (production: use a real
    trigger interval with it), a key's state is dropped after that long
    without input; see the module docstring for why the default is
    no-timeout."""
    from pyspark.sql import functions as F

    flagged = bind(
        schema,
        stream_df,
        row_key=row_key,
        keep_cols=[key_col, ts_col],
        **bind_opts,
    ).flagged
    marked = flagged.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
        (F.size("__errs") > 0).alias("bad"),
    )

    def update(
        key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ):
        if state.hasTimedOut:
            # idle key: drop its state entirely (bounded-state contract)
            state.remove()
            return
        streak, total_bad = state.get if state.exists else (0, 0)
        # a key's batch data arrives as MULTIPLE pandas chunks (Arrow
        # batch size); event-time order only exists after concatenating
        # and sorting ONCE — per-chunk sorts would interleave streaks
        chunks = list(pdfs)
        if not chunks:
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(idle_timeout_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
        # peak over rows of THIS batch only: a batch with no new bad
        # rows must not re-alarm the carried-over streak (it was
        # reported when it happened); a bad row EXTENDING the carried
        # streak alarms again at the new height (streak still active)
        peak = 0
        n = 0
        for bad in pdf["bad"]:
            n += 1
            if bad:
                streak += 1
                total_bad += 1
                peak = max(peak, streak)
            else:
                streak = 0
        state.update((int(streak), int(total_bad)))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if peak >= streak_threshold:
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "streak": [int(peak)],
                    "total_bad": [int(total_bad)],
                    "event_count": [n],
                }
            )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return marked.groupBy("key").applyInPandasWithState(
        python_kernel(update),
        outputStructType=ALARM_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
