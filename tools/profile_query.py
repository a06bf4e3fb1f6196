"""Profile one or more queries in isolation: time construction (the
query-function call, which may run eager sub-jobs) and execution (noop
sink) over N repeats through `session.run_query`, and optionally dump
the formatted plan. ``build_stages``/``exec_stages`` are the
``name|build``/``name|exec`` job groups of an uncompressed event log,
summed over the repeats and folded by `perfbench/tracing.fold_event_log`
(jobs, stages, tasks, executor/CPU/GC time, scan, shuffle, spill,
Python-worker time).

Usage::

    python tools/profile_query.py --names a,b --repeats 3 \
        [--sf-dir /root/testdata/sf0.1] \
        [--plans-to DIR --suffix before] [--json-out FILE]

The session is `get_spark()`'s (cores from ``SPARK_GRAFT_CPUS``).
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

import tracing  # noqa: E402  (perfbench/ is not a package)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans-to", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from lol_data_collection_system_spark.session import get_spark, reset, run_query

    import __spark_entry__ as entry_mod

    with tempfile.TemporaryDirectory(prefix="profile-query-eventlog-") as log_dir:
        spark = get_spark(
            app_name="profile-query",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        qs = entry_mod.queries()
        results = {}
        for name in args.names.split(","):
            name = name.strip()
            if not name or name not in qs:
                continue
            build_times, exec_times = [], []
            for i in range(args.repeats):
                if i:
                    reset(spark)  # a later rep rebuilds the shared frames
                record, _ = run_query(spark, name, qs[name], args.sf_dir)
                build_times.append(round(record["build_s"], 3))
                exec_times.append(round(record["exec_s"], 3))
            results[name] = {
                "build": build_times,
                "exec": exec_times,
                "best_total": round(
                    min(b + e for b, e in zip(build_times, exec_times)), 3
                ),
                "best_build": min(build_times),
                "best_exec": min(exec_times),
            }
            print(
                f"{name}: best_total={results[name]['best_total']} "
                f"build={build_times} exec={exec_times}",
                flush=True,
            )
            if args.plans_to:
                df = qs[name](spark, args.sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                outdir = Path(args.plans_to)
                outdir.mkdir(parents=True, exist_ok=True)
                (outdir / f"{name}_{args.suffix}.txt").write_text(plan)
        spark.stop()
        groups = tracing.fold_event_log(tracing.event_log_file(log_dir))
    for name, rep in results.items():
        for tag in ("build", "exec"):
            rep[f"{tag}_stages"] = groups.get(f"{name}|{tag}", {})
    text = json.dumps(results, indent=1)
    if args.json_out:
        Path(args.json_out).write_text(text)
    else:
        print(text)


if __name__ == "__main__":
    main()
