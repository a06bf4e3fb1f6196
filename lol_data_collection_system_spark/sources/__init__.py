"""Sources & sinks (SURVEY.md §2.1, S1-S15)."""

from .cache import materialize_summary
from .snapshot import create_snapshot, load_snapshot, snapshot_status
from .tables import TABLE_NAMES, load_table, register_views

__all__ = [
    "TABLE_NAMES",
    "create_snapshot",
    "load_snapshot",
    "load_table",
    "materialize_summary",
    "register_views",
    "snapshot_status",
]
