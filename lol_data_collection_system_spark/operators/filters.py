"""Projections, filters, predicates (SURVEY.md §2.2, P1-P16).

The reference builds these as Django QuerySet filters that compile to one
SQL WHERE (e.g. the OR-folded tier ``__contains`` filter,
reference ``dj_lol_dcs/find_recurrent_delta_across_n_games.py:85-90``) or as
per-row Python guards (``lolapi/app_lib/utils.py:763-845``). Here every
predicate is a Column expression so Catalyst pushes it into the parquet
scan (check ``PushedFilters`` in explain) and keeps it inside
whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def disjunctive_contains(col: Column, needles: list[str]) -> Column:
    """OR-folded substring filter.

    Reference: ``Q(regional_tier_avg__contains=t)`` folded with ``|=`` over a
    tier list (``find_recurrent_delta_across_n_games.py:85-90``). A single
    ``rlike`` alternation keeps it one predicate for pushdown.
    """
    return reduce(or_, (col.contains(n) for n in needles))


def composite_key_lookup(df: DataFrame, **key_values) -> DataFrame:
    """Point lookup by composite key.

    Reference: ``objects.get(match_id=..., region=...)``
    (``utils.py:864``; ``active_data_gathering.py:38``). As a DataFrame this
    is a conjunctive filter — pushed down, so at scale it prunes row groups
    via parquet min/max stats instead of scanning.
    """
    pred = reduce(
        lambda a, b: a & b, (F.col(k) == F.lit(v) for k, v in key_values.items())
    )
    return df.filter(pred)


def recent_window_filter(df: DataFrame, ts_col: str, interval: str) -> DataFrame:
    """Keep rows within `interval` of the dataset's max timestamp.

    Reference: week-of-log filter (``monitor/views/ratelimit.py:88-95``).
    Uses a scalar subquery-style max so the cutoff is data-driven (the
    testdata is static); in production `current_timestamp()` replaces it.
    """
    cutoff = df.agg(F.max(ts_col).alias("mx")).select(
        (F.col("mx") - F.expr(f"INTERVAL {interval}")).alias("cutoff")
    )
    return df.crossJoin(F.broadcast(cutoff)).filter(F.col(ts_col) >= F.col("cutoff")).drop("cutoff")
