"""T1 — poll-until-event (SURVEY.md §2.9).

Reference: an ongoing match is re-polled on a fixed cadence until the
"finished" response arrives — 404 means still running, wait 5 minutes and
re-check; a finished result ends the loop; after the retry budget the
target is skipped (`lolapi/app_lib/utils.py:240-261`,
`active_data_gathering.py:83-99`). That is a per-key event loop in one
process.

Spark-first re-expression: the poll responses are a *stream*; completion
detection is a per-key stateful operator (`applyInPandasWithState`):

- every observation for a pending key increments its poll count;
- the FIRST observation satisfying the completion predicate emits exactly
  one ``completed`` row (with the completing event's timestamp and the
  number of polls it took) and flips the key's state to done — later
  duplicates are swallowed, so downstream sees an exactly-once completion
  event per key;
- a processing-time timeout on a still-pending key emits one ``gave_up``
  row (the reference's "skipping this summoner" path) and frees state;
- done-state is tombstoned with the same timeout so it is eventually
  reclaimed without re-emitting.

The polling *cadence* itself belongs to the trigger, not the operator:
the caller starts the query with a processingTime trigger (the
reference's 5-minute sleep) so each micro-batch re-reads whatever new
poll responses the source produced. State is checkpointed and partitioned
by key — a million in-flight matches track horizontally, not in a driver
loop.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

POLL_OUTPUT = T.StructType(
    [
        T.StructField("target", T.StringType()),
        T.StructField("status", T.StringType()),  # completed | gave_up
        T.StructField("n_polls", T.LongType()),
        T.StructField("event_ts_ms", T.LongType()),  # completing poll's ts
    ]
)

#: (poll count so far, 1 if completed else 0)
POLL_STATE = T.StructType(
    [
        T.StructField("n_polls", T.LongType()),
        T.StructField("done", T.LongType()),
    ]
)


def poll_until_event(
    polls: DataFrame,
    target_col: str = "target",
    done_col: str = "done",
    ts_col: str = "ts_ms",
    give_up_after_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Reduce a stream of per-target poll responses to exactly one
    completion (or give-up) event per target.

    `polls` needs three columns: `target_col` (grouping key), `done_col`
    (boolean — the completion predicate, e.g. ``status != 404``), and
    `ts_col` (ms epoch of the poll response). Emits update-mode rows of
    `POLL_OUTPUT` shape.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (target,) = key
        if state.hasTimedOut:
            n, done = state.get
            state.remove()
            if not done:  # pending → the reference's skip-after-budget
                yield pd.DataFrame(
                    {
                        "target": [target],
                        "status": ["gave_up"],
                        "n_polls": [n],
                        "event_ts_ms": [None],
                    }
                )
            return  # done tombstone expires silently
        n, done = state.get if state.exists else (0, 0)
        out = None
        for pdf in pdfs:
            if done:
                break  # completed earlier — swallow replays/late polls
            # order within the batch by poll timestamp: "first completing
            # poll" must be deterministic under batch coalescing
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            for r in pdf.itertuples():
                n += 1
                if bool(getattr(r, done_col)):
                    done = 1
                    out = pd.DataFrame(
                        {
                            "target": [target],
                            "status": ["completed"],
                            "n_polls": [n],
                            "event_ts_ms": [int(getattr(r, ts_col))],
                        }
                    )
                    break
        state.update((n, done))
        state.setTimeoutDuration(give_up_after_ms)
        if out is not None:
            yield out

    return polls.groupBy(target_col).applyInPandasWithState(
        update,
        POLL_OUTPUT,
        POLL_STATE,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )

