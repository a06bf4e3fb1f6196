"""Sequential-elimination role assignment (SURVEY.md §2 A9/U3).

Reference: `create_champion_lane_mapping` (`utils.py:419-480`) assigns
JUNGLE → SUPPORT → TOP → BOTTOM → MID per team by repeated argmax/argmin
over the *remaining* candidates — each pick removes its winner from the
pool, so later picks depend on earlier ones. A plain `row_number()` per
metric could hand two roles to the same candidate.

One Catalyst plan instead. Rule i (1-based) orders a group by: prefilter
hit first (when the rule has a prefilter), then its metric with NULLs
last, then `id_col` ascending. The first row of that order that is still
unassigned is exactly the rule's pick — "the best prefiltered candidate,
falling back to all remaining". At most i−1 rows are assigned before
rule i runs, so its pick is among the top i of its order. The plan takes
every rule's `row_number()` over one exchange on the group key, collects
per group only the rows ranked inside their rule's bound, and folds the
rules over that list with one SQL `aggregate` expression; no row crosses
into a Python worker. `assign_group` is the same fold in plain Python,
the reference the tests compare against.

Scale: for k rules a group's fold input is O(k²) rows, whatever the
group size; the group itself is only ranked, never held as a whole.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RoleRule:
    """One elimination step: assign `role` to the remaining candidate with
    the max (or min) `metric`. `prefilter` optionally narrows candidates
    first, falling back to all remaining if none qualify — mirroring the
    reference's smite-carrier fallback (`utils.py:452-455`)."""

    role: str
    metric: str
    ascending: bool = False
    prefilter: str | None = None  # Spark SQL predicate; NULL is no hit


def assign_group(
    rows: list[dict],
    rules: list[RoleRule],
    id_col: str,
    remainder_role: str | None = None,
) -> list[tuple[object, str]]:
    """The elimination sequence over one group's rows, as (id, role)
    picks in rule order. Each row carries a rule's prefilter value under
    the predicate's text as key (True is a hit). NULL metrics sort last;
    ties break on `id_col` ascending — Python's `max` keeps the first of
    equals, so a stable sort on the id reproduces deterministic picks. If
    `remainder_role` is set, the last unassigned candidate gets it (the
    reference's "midlaner remains", `utils.py:473`)."""
    remaining = sorted(rows, key=lambda r: r[id_col])
    picks: list[tuple[object, str]] = []
    for rule in rules:
        if not remaining:
            break
        pool = remaining
        if rule.prefilter:
            pool = [r for r in remaining if r[rule.prefilter] is True] or remaining
        valued = [r for r in pool if r[rule.metric] is not None]
        ordered = sorted(
            valued, key=lambda r: r[rule.metric], reverse=not rule.ascending
        ) + [r for r in pool if r[rule.metric] is None]
        winner = ordered[0]
        picks.append((winner[id_col], rule.role))
        remaining = [r for r in remaining if r is not winner]
    if remainder_role is not None and len(remaining) == 1:
        picks.append((remaining[0][id_col], remainder_role))
    return picks


def assign_roles(
    df: DataFrame,
    group_cols: list[str],
    rules: list[RoleRule],
    id_col: str,
    remainder_role: str | None = None,
) -> DataFrame:
    """Per group, run the elimination sequence and return
    (group_cols..., id_col, role) — `assign_group` as one plan.

    `id_col` must be unique within a group. `remainder_role` applies only
    to groups of exactly len(rules)+1 rows, so the last rule's bound
    widens by one to keep all of such a group."""
    k = len(rules)
    by_group = Window.partitionBy(*group_cols)

    def rank(rule: RoleRule):
        metric = F.col(rule.metric)
        keys = [metric.asc_nulls_last() if rule.ascending else metric.desc_nulls_last()]
        if rule.metric != id_col:  # the id is the tie-break, once
            keys.append(F.col(id_col).asc())
        if rule.prefilter:
            keys.insert(0, F.when(F.expr(rule.prefilter), 0).otherwise(1))
        return F.row_number().over(by_group.orderBy(*keys))

    ranked = df.select(
        *group_cols, id_col, *[rank(r).alias(f"_r{i}") for i, r in enumerate(rules)]
    )
    bounds = list(range(1, k + 1))
    roles = [rule.role for rule in rules]
    steps = f"{k - 1}"
    if remainder_role is not None:
        bounds[-1] += 1
        roles.append(remainder_role)
        steps = f"IF(_n = {k + 1}, {k}, {k - 1})"
    keep = reduce(or_, [F.col(f"_r{i}") <= b for i, b in enumerate(bounds)])
    # the remainder step ranks the one candidate left 0
    cand = F.struct(
        F.col(id_col).alias("id"),
        F.array(*[f"_r{i}" for i in range(k)], F.lit(0)).alias("r"),
    )
    grouped = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.collect_list(F.when(keep, cand)).alias("_c"),
    )
    # step i appends the free candidate of lowest rank i; NULL once none is left
    id_type = df.schema[id_col].dataType.simpleString()
    picks = (
        f"aggregate(sequence(0, {steps}), cast(array() AS array<{id_type}>), "
        f"(acc, i) -> concat(acc, array(array_min(transform("
        f"filter(_c, c -> NOT array_contains(acc, c.id)), "
        f"c -> named_struct('r', c.r[i], 'id', c.id))).id)))"
    )
    out = grouped.select(
        *group_cols, F.posexplode(F.expr(picks)).alias("_j", id_col)
    )
    return out.where(F.col(id_col).isNotNull()).select(
        *group_cols,
        id_col,
        F.array(*map(F.lit, roles))[F.col("_j")].alias("role"),
    )
