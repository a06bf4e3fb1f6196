"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin on the
same parquet tables (DuckDB side), compares row count, column names, and
order-insensitive values, and writes a VERIFY_LOCAL-style JSON artifact.
Each query runs through `session.run_query` (pandas sink) in a
`get_spark()` session, so a full sweep leaves only the session
registry's caches persisted; a line before GREEN reports it.

Usage::

    python tools/verify_local.py [--sf-dir /root/testdata/sf0.01] \
        [--out VERIFY_LOCAL_r04.json] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df_pandas):
    cols = sorted(df_pandas.columns)
    out = df_pandas[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a.shape != b.shape:
        return False
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            xn = isinstance(x, float) and math.isnan(x)
            yn = isinstance(y, float) and math.isnan(y)
            if xn or yn:
                if not (xn and yn):
                    return False
                continue
            if x is None or y is None:
                if not (x is None and y is None):
                    return False
                continue
            if isinstance(x, float) or isinstance(y, float):
                if float(x) != float(y):
                    return False
            elif str(x) != str(y):
                return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    import duckdb

    from lol_data_collection_system_spark.session import get_spark, owned_rdds, run_query

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="verify-local")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = sorted(qs) if not args.only else args.only.split(",")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")
    results = {}
    n_green = 0
    for name in names:
        t0 = time.time()
        row = {
            "rows": None,
            "oracle_rows": None,
            "cols_match": False,
            "hash_match": False,
            "status": "ERR",
            "wall_sec_incl_oracle": None,
        }
        try:
            _, spark_df = run_query(spark, name, qs[name], args.sf_dir, sink="pandas")
            row["rows"] = int(spark_df.shape[0])
            if name not in oracles:
                row["status"] = "NO_ORACLE"
            else:
                duck_df = con.execute(oracles[name]).df()
                row["oracle_rows"] = int(duck_df.shape[0])
                row["cols_match"] = sorted(spark_df.columns) == sorted(
                    duck_df.columns
                )
                if row["cols_match"]:
                    a, b = _canon(spark_df), _canon(duck_df)
                    kinds_ok = all(
                        a[c].dtype.kind == b[c].dtype.kind for c in a.columns
                    )
                    row["hash_match"] = kinds_ok and _values_equal(a, b)
                if (
                    row["rows"] == row["oracle_rows"]
                    and row["cols_match"]
                    and row["hash_match"]
                ):
                    row["status"] = "OK"
                    n_green += 1
                else:
                    row["status"] = "MISMATCH"
        except Exception as exc:  # noqa: BLE001 — record and continue
            row["status"] = f"ERR: {type(exc).__name__}: {exc}"[:300]
        row["wall_sec_incl_oracle"] = round(time.time() - t0, 1)
        results[name] = row
        flag = "ok" if row["status"] == "OK" else "** " + str(row["status"])
        print(f"{name}: {flag} ({row['wall_sec_incl_oracle']}s)", flush=True)

    con.close()
    persisted = {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}
    unowned = len(persisted - owned_rdds(spark))
    print(f"persisted RDDs at end: {len(persisted)}, not owned by the registry: {unowned}")
    artifact = {"n_queries": len(names), "n_green": n_green, "queries": results}
    if args.out:
        Path(args.out).write_text(json.dumps(artifact))
        print(f"wrote {args.out}")
    print(f"GREEN {n_green}/{len(names)}")
    return 0 if n_green == len(names) else 1


if __name__ == "__main__":
    raise SystemExit(main())
