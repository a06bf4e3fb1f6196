"""Structured Streaming layer (SURVEY.md §2.9 T1-T8).

The reference's 'streaming' is polling loops + idempotent DB upserts
coordinated by table locks; here the same semantics are declared:

- `polling`    — poll-until-event completion detection (T1)
- `ratelimit`  — sliding-window request accounting vs quota (T5)
- `upsert`     — two-phase latest-wins upsert + exactly-once claim (T3/T4)
- `sessions`   — watermarked session windows for fight grouping (T8)
- `heartbeat`  — per-query liveness via StreamingQueryListener (T9)
- `dedup`      — watermarked streaming exact dedup (online corpus half)
- `drift`      — windowed per-source PSI vs a static curated baseline
- `scd2`       — snapshot-version stream folded into SCD2 history (T3/T6)
- `rollup`     — continuous-aggregate maintenance via algebraic-state merge

Every streaming job has a batch twin in `operators/` — tests assert the
streaming result (availableNow trigger) equals the batch computation.
"""

from .drift import baseline_probs, psi_stream
from .dedup import (
    classify_stream,
    corpus_guard_stream,
    dedup_stream,
    near_dedup_stream,
)
from .heartbeat import HeartbeatListener, heartbeats_df, install_heartbeats
from .polling import poll_until_event
from .ratelimit import sliding_quota_counts
from .rollup import (
    hourly_rollup_stream,
    incremental_rollup_sink,
    read_rollup,
)
from .scd2 import read_scd2_history, scd2_apply_stream, scd2_sink
from .sessions import streaming_sessions
from .upsert import latest_wins_upsert_sink, two_phase_upsert

__all__ = [
    "HeartbeatListener",
    "classify_stream",
    "corpus_guard_stream",
    "dedup_stream",
    "near_dedup_stream",
    "baseline_probs",
    "psi_stream",
    "heartbeats_df",
    "install_heartbeats",
    "poll_until_event",
    "sliding_quota_counts",
    "streaming_sessions",
    "latest_wins_upsert_sink",
    "two_phase_upsert",
    "read_scd2_history",
    "scd2_apply_stream",
    "scd2_sink",
    "hourly_rollup_stream",
    "incremental_rollup_sink",
    "read_rollup",
]
