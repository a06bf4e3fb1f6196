"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query runs through `session.run_query` with the noop sink (full
pipeline runs, nothing is collected to the driver) so timings measure
the distributed plan, not result serialization; BENCH_FULL.json keeps
the record of each query's fastest run under ``records``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lol_data_collection_system_spark import session  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

#: Headline set: one per operator family, weighted toward the ops that
#: dominate at scale (wide aggregation, window functions, range self-join,
#: as-of join, dedup/similarity over documents/embeddings).
HEADLINE: tuple[str, ...] = (
    "pricing_summary",
    "region_priority_pivot",
    "top3_lineitems_per_supplier",
    "trailing_order_avg",
    "cumulative_user_value",
    "max_error_streak",
    "sliding_rate_count",
    "events_near_errors",
    "purchase_last_click",
    "returnflag_set_signature",
    "json_props_stats",
    "latest_event_per_user_type",
)


def main() -> None:
    if (
        "--prune-baseline" in sys.argv
        and "--refresh-baseline" not in sys.argv
    ):
        # fail BEFORE the bench runs: alone the flag would be silently
        # ignored and the operator would believe the baseline shrank
        print(
            "--prune-baseline only acts during --refresh-baseline; "
            "pass both (nothing was pruned)",
            file=sys.stderr,
        )
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = session.default_parallelism()
    spark = session.get_spark(app_name="lol-dcs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    names = [n for n in HEADLINE if n in queries] + [
        n for n in sorted(queries) if n not in HEADLINE
    ]

    # JVM/codegen warmup on a trivial plan so q1 doesn't pay startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Three passes, min per query: pass 1 warms parquet footers + codegen
    # caches; the min filters out jitter (VM scheduling, GC, and
    # concurrent verification runs sharing the cores — observed inflating
    # single-pass wall-clock up to ~2.6×).
    #
    # Each record splits CONSTRUCTION (query-function call: py4j, Catalyst,
    # eager training actions) from EXECUTION (the noop sink): at sf0.1 many
    # totals are construction-bound, so total-time core-scaling ratios are
    # ≈1 whatever the plan (VERDICT r11 "scaling blind spot"); exec-only
    # times scale with cores. The record of each query's fastest run is kept.
    best: dict[str, dict] = {}

    def run_s(record: dict) -> float:
        return record["build_s"] + record["exec_s"]

    def run(name: str) -> None:
        record, _ = session.run_query(spark, name, queries[name], sf_dir)
        if name not in best or run_s(record) < run_s(best[name]):
            best[name] = record

    for _pass in range(3):
        if _pass:
            session.reset(spark)  # a later pass rebuilds the shared frames
        for name in names:
            run(name)

    # Sub-second queries are the most contention-hostage: a concurrent
    # verification run stealing cores for 300 ms doubles a 0.4 s query,
    # and min-of-3 can still miss an uncontended slot when the overlap
    # spans the whole sweep (VERDICT r10: two sub-second queries crossed
    # the 2× gate on unchanged plans). Give them three EXTRA min-samples
    # — cheap by construction (they are sub-second) and spread across
    # time, so at least one sample usually lands in a quiet window.
    for _pass in range(3):
        session.reset(spark)
        for name in names:
            if run_s(best[name]) < 1.0:
                run(name)

    timings = {n: round(run_s(r), 3) for n, r in best.items()}
    builds = {n: round(r["build_s"], 3) for n, r in best.items()}
    execs = {n: round(r["exec_s"], 3) for n, r in best.items()}
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The full per-query map (190+ entries, one giant line) overflows the
    # driver's stdout capture window, leaving the recorded bench artifact
    # unparseable. Stdout gets a compact line — headline queries + the 10
    # slowest — and the complete map goes to BENCH_FULL.json next to this
    # script.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    compact = {n: timings[n] for n in HEADLINE if n in timings}
    compact.update(slowest)
    import hashlib

    out = {
        "metric": "survey_s2_query_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": compact,
        "n_queries": len(timings),
        # exec-only suite total (see the split comment above): the
        # number that SHOULD scale with $SPARK_GRAFT_CPUS; `value` minus
        # this is driver-side construction, constant in cores.
        "exec_value": round(sum(execs.values()), 3),
        # stable hash of the registered name SET so a reader of the
        # compact line can tell "query dropped" from "query got faster
        # and fell off the 10-slowest list" (VERDICT r11 #6) without
        # parsing BENCH_FULL.json.
        "name_set_md5": hashlib.md5(
            "\n".join(sorted(timings)).encode()
        ).hexdigest(),
        "queries_file": full_path,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    with open(full_path, "w") as f:
        json.dump(
            {
                **out,
                "queries": timings,
                "build": builds,
                "exec": execs,
                "records": best,
            },
            f,
            indent=0,
            sort_keys=True,
        )
        f.write("\n")

    # `--refresh-baseline`: fold this run into BENCH_UNCONTENDED.json as
    # per-query min(old, new) with n_queries DERIVED from the map — the
    # manual copy step used to append queries without re-stamping the
    # count (the round-6 195-vs-197 drift); deriving kills that class.
    if "--refresh-baseline" in sys.argv:
        base_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_UNCONTENDED.json",
        )
        # Names in the old baseline but missing from THIS run are KEPT
        # (a partial/failed run must never silently shrink the --gate's
        # coverage — ADVICE r7); retiring a query for real requires the
        # explicit --prune-baseline, which lists what it drops.
        merged = dict(timings)
        stale_kept: list[str] = []
        if os.path.exists(base_path):
            try:
                with open(base_path) as f:
                    for n, t in json.load(f).get("queries", {}).items():
                        if n in merged:
                            merged[n] = min(merged[n], t)
                        elif "--prune-baseline" not in sys.argv:
                            merged[n] = t
                            stale_kept.append(n)
                        else:
                            stale_kept.append(n)
            except (json.JSONDecodeError, OSError):
                pass
        if stale_kept:
            action = (
                "PRUNED from" if "--prune-baseline" in sys.argv
                else "absent from this run; kept in"
            )
            print(
                f"refresh-baseline: {len(stale_kept)} name(s) {action} "
                f"the baseline: {sorted(stale_kept)}",
                file=sys.stderr,
            )
        refreshed = {
            **out,
            "queries": merged,
            "n_queries": len(merged),
            "value": round(sum(merged.values()), 3),
            # re-stamp the set hash over MERGED names (stale-kept ones
            # included); exec_value stays this-run-only, so drop it —
            # a min-fold over exec components from different runs would
            # not correspond to any run's value.
            "name_set_md5": hashlib.md5(
                "\n".join(sorted(merged)).encode()
            ).hexdigest(),
        }
        refreshed.pop("exec_value", None)
        with open(base_path, "w") as f:
            json.dump(refreshed, f, indent=0, sort_keys=True)
            f.write("\n")

    # Regression gate (`--gate [baseline.json]`): compare per-query mins
    # against the recorded uncontended baseline and fail on >1.5× — the
    # automated round-over-round catch, instead of a manual diff. Only
    # queries present in both runs participate (new queries have no
    # baseline yet); the gate is advisory about absolute speed, strict
    # about regressions.
    if "--gate" in sys.argv:
        idx = sys.argv.index("--gate")
        baseline_path = (
            sys.argv[idx + 1]
            if len(sys.argv) > idx + 1 and not sys.argv[idx + 1].startswith("-")
            else os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_UNCONTENDED.json",
            )
        )
        with open(baseline_path) as f:
            base = json.load(f).get("queries", {})
        regressions = {
            n: {"base": base[n], "now": t, "ratio": round(t / base[n], 2)}
            for n, t in timings.items()
            if n in base and base[n] > 0.05 and t > 1.5 * base[n]
        }
        out["gate"] = {
            "baseline": os.path.basename(baseline_path),
            "threshold": 1.5,
            "compared": sum(1 for n in timings if n in base),
            "regressions": regressions,
        }
        print(json.dumps(out))
        sys.exit(1 if regressions else 0)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
