"""Set operations (SURVEY.md §2.7, X1-X6)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_set_signature(item_col: str) -> Column:
    """Canonical string signature of a group's distinct item set: sorted,
    comma-joined. Order-insensitive like the reference's Python ``set``
    compares (``utils.py:1076-1083``); a plain string so downstream
    equality/hashing is type-stable.
    """
    return F.array_join(F.array_sort(F.collect_set(item_col)), ",")
