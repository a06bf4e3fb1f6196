"""Local twin of the driver's t2 gate: every ``queries()`` entry must have
an ``oracle_sql()`` entry and match DuckDB on the same parquet — row count,
column names, and order-insensitive values.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from verify_local import TABLES, _canon, _values_equal  # noqa: E402  (tools/ is not a package)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con.execute(sql).df()


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    oracles = entry_mod.oracle_sql()
    assert name in oracles, f"{name}: registered without a DuckDB oracle"
    spark_df = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    duck_df = _duck(oracles[name])
    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: column mismatch spark={sorted(spark_df.columns)} "
        f"duck={sorted(duck_df.columns)}"
    )
    a, b = _canon(spark_df), _canon(duck_df)
    assert a.shape == b.shape, f"{name}: shape {a.shape} vs {b.shape}"
    for c in a.columns:
        assert a[c].dtype.kind == b[c].dtype.kind, (
            f"{name}.{c}: dtype kind {a[c].dtype} vs {b[c].dtype} — the "
            "driver's value hash distinguishes 1 from 1.0"
        )
    assert _values_equal(a, b), (
        f"{name}: value mismatch\nspark:\n{a.head(20)}\nduck:\n{b.head(20)}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_jaccard_doc_freq_cap(spark):
    """Skew lever: capping ultra-common shingles removes pairs that share
    only stop-phrases; surviving pairs score over the capped space."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingles,
    )

    rows = [
        (1, "the quick brown fox jumps high today"),
        (2, "the quick brown cat sleeps low today"),
        (3, "a completely different document entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingles(df, "doc_id", "text", 3)
    full = ngram_jaccard_pairs(sh, "doc_id", threshold=0.0)
    capped = ngram_jaccard_pairs(sh, "doc_id", threshold=0.0, max_doc_freq=1)
    full_pairs = {(r.id_a, r.id_b) for r in full.collect()}
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1, 2) in full_pairs          # share 'the quick brown'
    assert capped_pairs <= full_pairs    # cap only removes pairs
    assert (1, 2) not in capped_pairs    # their only shared shingle is common
