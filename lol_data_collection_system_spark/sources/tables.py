"""Parquet table catalog (S1/S2: full scans with Catalyst pushdown).

The reference scans PostgreSQL tables through the Django ORM
(e.g. ``HistoricalMatch.objects.all()``,
reference ``dj_lol_dcs/find_recurrent_delta_across_n_games.py:84``) and
hand-written SQL (``periodical_data_repair.py:39-107``). Here the store is
columnar Parquet: projection becomes column pruning and every filter is a
pushed-down predicate — visible as ``PushedFilters``/``ReadSchema`` in
``df.explain("formatted")``.

At 100 TB the same loader reads a partitioned table root
(e.g. ``matches/region=EUW/game_version=8.11/...``) and partition pruning
fires on the reference's dominant filter axes (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables of the driver's star schema (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Pure ``spark.read`` — no caching here so
    Catalyst prunes columns/filters per query instead of pinning full rows.

    The driver's ``events.parquet`` stores ``ts`` as parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects; we read nanos
    as long (session conf below, settable at runtime) and truncate to
    microseconds — the same ns→µs truncation DuckDB applies, so oracle
    comparisons stay exact at ms granularity.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Some testdata generations emit TIMESTAMP_NTZ (isAdjustedToUTC=false).
    # The engine's time operators (unix_millis range frames, banded interval
    # joins, session windows) work on instants; with the session timezone
    # pinned to UTC the NTZ->TIMESTAMP cast is value-preserving and matches
    # DuckDB's naive-as-UTC epoch_ms() reading of the same files.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register every table as a temp view so queries can be declared in
    pure SQL (S2: `spark.sql(...)` over views — the reference's
    hand-written-SQL surface). Idempotent per session."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
