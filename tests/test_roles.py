"""Role assignment: `roles.assign_roles` (per-rule ranks and one SQL
fold) against `roles.assign_group`, the elimination in plain Python, on
seeded random groups with tied and NULL metrics and NULL prefilter
columns; and the executed plan of `role_assignment` holds no Python
stage."""

from __future__ import annotations

import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F
from test_oracle_parity import SF_DIR

from lol_data_collection_system_spark.operators.roles import (
    RoleRule,
    assign_group,
    assign_roles,
)

RULES = [
    RoleRule("a", "m1", ascending=False, prefilter="flag"),
    RoleRule("b", "m2", ascending=True),
    RoleRule("c", "m1", ascending=True, prefilter="seg = 'x'"),
    RoleRule("d", "m2", ascending=False),
]
SCHEMA = "g int, id long, m1 int, m2 double, flag boolean, seg string"
# rule "a" takes row 1, the only seg = 'x' row, before rule "c" runs:
# "c" falls back to all remaining
TAKEN_PREFILTER = [
    (-1, 1, 5, 1.0, True, "x"),
    (-1, 2, 1, 2.0, False, "y"),
    (-1, 3, 0, 3.0, None, None),
]


def _random_rows(seed: int = 14, n_groups: int = 90) -> list[tuple]:
    """Group sizes cycle through 1..len(RULES)+2; small value domains
    give ties, and every metric and prefilter column can be NULL."""
    rng = random.Random(seed)
    rows = []
    for g in range(n_groups):
        for i in rng.sample(range(500), 1 + g % (len(RULES) + 2)):
            rows.append((
                g,
                i,
                rng.choice([None, 0, 1, 1, 2]),
                rng.choice([None, 0.5, 1.0, 1.0]),
                rng.choice([None, True, False, False]),
                rng.choice([None, "x", "y"]),
            ))
    return rows


def _reference(df, remainder_role):
    """`assign_group` per group, with each prefilter evaluated by Spark."""
    preds = sorted({r.prefilter for r in RULES if r.prefilter})
    rows: dict[object, list[dict]] = {}
    for r in df.select("*", *[F.expr(p).alias(f"_p{i}") for i, p in enumerate(preds)]).collect():
        row = r.asDict()
        row.update({p: row.pop(f"_p{i}") for i, p in enumerate(preds)})
        rows.setdefault(row["g"], []).append(row)
    return sorted(
        (g, i, role)
        for g, group in rows.items()
        for i, role in assign_group(group, RULES, "id", remainder_role)
    )


@pytest.mark.parametrize("remainder_role", [None, "e"], ids=["no_rest", "rest"])
@pytest.mark.parametrize("partitions", [1, 7])
def test_assign_roles_matches_python_reference(spark, partitions, remainder_role):
    rows = _random_rows()
    df = spark.createDataFrame(rows + TAKEN_PREFILTER, SCHEMA)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        got = sorted(
            tuple(r) for r in assign_roles(df, ["g"], RULES, "id", remainder_role).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    expected = _reference(df, remainder_role)
    assert got == expected
    taken = [(i, role) for g, i, role in got if g == -1]
    assert taken == [(1, "a"), (2, "b"), (3, "c")]
    # the remainder goes to exactly the groups of len(RULES) + 1 rows
    sizes = Counter(r[0] for r in rows)
    rest = {g for g, _, role in got if role == "e"}
    assert rest == (
        {g for g, n in sizes.items() if n == len(RULES) + 1} if remainder_role else set()
    )


def test_role_assignment_plan_has_no_python_stage(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["role_assignment"](spark, SF_DIR)
    df.collect()  # runs df's own QueryExecution, so its AQE plan is final
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, plan
    # no window orders by one key twice (the "earliest" rule's metric is
    # the id, which is also every rule's tie-break)
    orders = re.findall(r"Window \[.*\], \[[^\]]*\], \[([^\]]*)\]", final)
    assert orders, plan
    for order in orders:
        keys = [re.sub(r" (ASC|DESC) NULLS (FIRST|LAST)$", "", k) for k in order.split(", ")]
        assert len(keys) == len(set(keys)), order
