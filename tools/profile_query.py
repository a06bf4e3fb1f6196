"""Profile one or more queries in isolation: time construction (the
query-function call, which may run eager sub-jobs) and execution (noop
sink) separately over N repeats; optionally pull per-stage metrics from
the live UI REST API and dump the formatted plan.

Usage::

    python tools/profile_query.py --names a,b --repeats 3 \
        [--sf-dir /root/testdata/sf0.1] [--cpus 32] \
        [--plans-to plans/r11 --suffix before] [--stages]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _stage_report(app_id: str, port: int, since_stage: int) -> list[dict]:
    url = f"http://localhost:{port}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.loads(r.read())
    out = []
    for s in stages:
        if s["stageId"] < since_stage:
            continue
        out.append(
            {
                "id": s["stageId"],
                "name": s["name"].split("\n")[0][:60],
                "tasks": s["numCompleteTasks"],
                "ms": s.get("executorRunTime", 0),
                "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 2),
                "submitted": s.get("submissionTime"),
                "completed": s.get("completionTime"),
            }
        )
    return sorted(out, key=lambda x: x["id"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--plans-to", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--stages", action="store_true")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from lol_data_collection_system_spark.session import get_spark, reset

    import __spark_entry__ as entry_mod

    extra = {"spark.ui.enabled": "true"} if args.stages else None
    spark = get_spark(
        app_name="profile-query",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    app_id = spark.sparkContext.applicationId
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]) if args.stages else 0
    qs = entry_mod.queries()
    results = {}
    for name in args.names.split(","):
        name = name.strip()
        if not name or name not in qs:
            continue
        build_times, exec_times, jobs_per_rep = [], [], []
        stage_mark = 0
        for i in range(args.repeats):
            if i:
                reset(spark)  # a later rep rebuilds the shared frames
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            if args.stages and i == args.repeats - 1:
                tracker = spark.sparkContext.statusTracker()
                ids = tracker.getJobIdsForGroup(None) or []
                stage_mark = None  # mark via stage count below
                try:
                    stages_before = _stage_report(app_id, port, 0)
                    stage_mark = (stages_before[-1]["id"] + 1) if stages_before else 0
                except Exception:
                    stage_mark = 0
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build_times.append(round(t1 - t0, 3))
            exec_times.append(round(t2 - t1, 3))
        spark.sparkContext.setJobDescription(None)
        rep = {
            "build": build_times,
            "exec": exec_times,
            "best_total": round(
                min(b + e for b, e in zip(build_times, exec_times)), 3
            ),
            "best_build": min(build_times),
            "best_exec": min(exec_times),
        }
        if args.stages:
            try:
                rep["stages_last_rep"] = _stage_report(app_id, port, stage_mark)
            except Exception as e:  # pragma: no cover
                rep["stages_err"] = str(e)
        results[name] = rep
        print(
            f"{name}: best_total={rep['best_total']} "
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
    if args.json_out:
        Path(args.json_out).write_text(json.dumps(results, indent=1))
    else:
        print(json.dumps({n: {k: v for k, v in r.items() if k != "stages_last_rep"} for n, r in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
