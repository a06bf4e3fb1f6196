"""Cold, layer-by-layer benchmark of the Spark dataflows.

    python3 perfbench/run.py --workload lol_etl --seed 1 --seconds 20 --trace 0

One run is one fresh driver process on ``local[4]`` with 4 shuffle
partitions and its own summary-cache root, warehouse, Spark local dirs
and temp dirs under ``perfbench/_work/runs/``. It sets up the session,
does one cold pass of the workload (cold JVM, empty program caches),
checks every output against its oracle outside the timed span, and
prints one JSON object as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the same
pass with span wrappers, Catalyst phase capture and an uncompressed
event log, and reports the per-layer metrics instead.

Workloads. Inputs are the sf0.01 tables of the repository's test data,
regenerated by ``datagen.py``.
The batch workloads run their queries in a fixed order: a seeded order
moves the cold-start and shared-frame costs from query to query and left
the median query latency spreading by ~0.4 of itself across seeds. The
seed sets the stream's slice boundaries and its share of late events.

* ``lol_etl`` - the paper's fight, role and session dataflows, the
  trailing/streak/interval/as-of window family over the events log, and
  a pivot and a top-k over the order tables.
* ``corpus_build`` - embedding clustering, graph, classifier and
  near-duplicate queries, whose cost is Python construction and eager
  driver loops.
* ``stream_rollup`` - time-ordered event slices streamed through
  ``streaming.rollup.hourly_rollup_stream`` into its versioned,
  hour-partitioned store: the write path.

End-to-end metrics. ``setup_s`` is process start to a ready session
(``get_spark`` plus the session's first job on a trivial plan). ``wall_s`` is the
cold pass: the sum of per-query construction plus noop-write times, or
stream start to termination. ``peak_rss_mb`` is the peak resident memory
of the driver JVM plus the Python driver up to the end of the pass (the
checks that follow are not counted). Times are scaled by the share of
vCPU time the host did not steal (`unstolen`). The median query or
micro-batch (``query_p50_s``, ``batch_p50_s``), the micro-batch p90,
events per second, the failed-operation share, raw times, the host's
steal share and the warm-up's part of set-up are printed on the
``perfbench summary`` line; the medians are not gated because their
spread across seeds reached the 0.25 bound on a contended host.

``--seconds`` is the budget of the timed span. A pass is fixed work and
is never padded; operations still pending after three budgets are
abandoned and counted as failed, which keeps a badly regressed run
inside its time limit.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / "_work"
PKG = "lol_data_collection_system_spark"

SF = 0.01
DATA_SEED = 42
CORES = 4
DRIVER_MEM = "1g"
YOUNG_GEN = "256m"
STREAM_SLICES = 8
STREAM_DAYS = 5
BUDGETS_BEFORE_ABANDON = 3

WORKLOADS: dict[str, list[str]] = {
    "lol_etl": [
        "fight_enrichment", "fight_merge", "fight_outcome_buckets",
        "role_assignment", "session_window_stats", "trailing_order_avg",
        "max_error_streak", "events_near_errors", "purchase_last_click",
        "latest_event_per_user_type", "geo_zone_counts",
        "region_priority_pivot", "top3_lineitems_per_supplier",
    ],
    "corpus_build": [
        "embedding_kcenter", "pagerank_scores", "classifier_cv_eval",
        "minhash_lsh_pairs", "embedding_kmeans", "dedup_components",
        "ngram_jaccard_pairs", "bm25_search", "doc_tfidf_top_terms",
        "doc_lm_scores",
    ],
    "stream_rollup": [],
}


def process_age_s() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq + steal, steal


def steal_share(since: tuple[int, int]) -> float:
    """Share of busy vCPU time the hypervisor stole since ``since``, a
    ``cpu_ticks()`` reading."""
    busy, steal = cpu_ticks()
    d_busy = busy - since[0]
    return (steal - since[1]) / d_busy if d_busy > 0 else 0.0


def unstolen(raw_s: float, since: tuple[int, int]) -> float:
    """``raw_s`` seconds of a span that began at ``since``, scaled by the
    share of busy vCPU time that was not stolen.

    On a shared virtual machine the host deschedules busy vCPUs for a
    varying share of the time, which stretches every wall time by about
    the same factor; this estimates the span on a dedicated machine.
    RECORD.json compares the spreads of raw and scaled times."""
    return raw_s * (1.0 - steal_share(since))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def names_md5(names: list[str]) -> str:
    return hashlib.md5("\n".join(names).encode()).hexdigest()


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------
def isolate(run_dir: Path) -> None:
    """Per-run summary cache, local dirs and temp dirs; workers import
    the package from the checkout. Must run before the package and the
    JVM start: the summary-cache root is read at import."""
    for sub in ("summary_cache", "local", "tmp", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["SPARK_GRAFT_SUMMARY_CACHE"] = str(run_dir / "summary_cache")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [str(REPO), os.environ.get("PYTHONPATH", "")] if p
    )
    sys.path.insert(0, str(REPO))


def start_session(run_dir: Path, trace: bool, data_dir: str):
    from lol_data_collection_system_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # A fixed heap and young generation: with both left to G1's
        # ergonomics, how far the heap grows (and so peak_rss_mb) depends
        # on GC timing, i.e. on how fast the host happened to be.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(run_dir / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    warm_up_engine(spark)
    return spark, get_spark_s, time.perf_counter() - t0


def warm_up_engine(spark) -> None:
    """JVM warm-up on a trivial plan: the session's first job, with a
    shuffle and a hash aggregate. It reads no input and calls no program
    code, so every program cache stays cold."""
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited; the JVM
    stops its Python workers on the way down and exits when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def prepare_inputs(sf: float) -> str:
    """Build the fixed input tables once per checkout and generator
    version (atomic rename). The directory name carries the generator's
    md5, which also keys the cached oracle results."""
    import datagen

    data_dir = WORK / "data" / sources_md5([HERE / "datagen.py"]) / f"seed{DATA_SEED}-sf{sf}"
    if not (data_dir / "DONE").exists():
        shutil.rmtree(data_dir, ignore_errors=True)
        data_dir.parent.mkdir(parents=True, exist_ok=True)
        tmp = Path(tempfile.mkdtemp(dir=data_dir.parent))
        counts = datagen.write_tables(str(tmp), sf, DATA_SEED)
        (tmp / "DONE").write_text(json.dumps(counts))
        tmp.rename(data_dir)
    return str(data_dir)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class Ops:
    """Per-operation outcomes of a pass."""

    def __init__(self) -> None:
        self.latency: dict[str, float] = {}  # steal-scaled, see unstolen()
        self.raw: dict[str, float] = {}
        self.failed: dict[str, str] = {}
        self.attempted = 0

    def fail(self, name: str, why: str) -> None:
        self.failed[name] = why[:300]


def batch_pass(spark, names, data_dir, ops: Ops, deadline: float, tracer=None,
               layers=None) -> tuple[float, dict]:
    """Construct every query and execute it with a noop write; returns
    (wall_s, {name: frame})."""
    import __spark_entry__ as entry_mod

    from tracing import catalyst_phases

    registry = entry_mod.queries()
    sc = spark.sparkContext
    frames, wall = {}, 0.0
    for name in names:
        ops.attempted += 1
        if time.perf_counter() > deadline:
            ops.fail(name, "abandoned: over budget")
            continue
        try:
            if tracer is not None:
                tracer.query = name
                sc.setJobGroup(f"{name}|build", name)
            ticks, t0 = cpu_ticks(), time.perf_counter()
            df = registry[name](spark, data_dir)
            t1 = time.perf_counter()
            if tracer is not None:
                phases = catalyst_phases(df)
                for phase, s in phases.items():
                    layers[f"catalyst.{phase}_s"] += s
                layers["plans.build_s"] += t1 - t0
                sc.setJobGroup(f"{name}|exec", name)
                t1b = time.perf_counter()
            else:
                t1b = t1
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed query is a data point
            ops.fail(name, f"{type(exc).__name__}: {exc}")
            continue
        ops.raw[name] = (t1 - t0) + (t2 - t1b)
        ops.latency[name] = unstolen(ops.raw[name], ticks)
        wall += ops.latency[name]
        frames[name] = df
    if tracer is not None:
        tracer.query = None
        sc.setJobGroup("check", "output checks")
    return wall, frames


def check_batch(frames: dict, oracle: dict, ops: Ops) -> None:
    import checks

    for name, df in frames.items():
        try:
            if not checks.frames_match(df.toPandas(), oracle[name]):
                ops.fail(name, "output differs from its DuckDB oracle")
        except Exception as exc:  # noqa: BLE001
            ops.fail(name, f"check raised {type(exc).__name__}: {exc}")


def write_slices(data_dir: str, src: Path, seed: int) -> tuple[int, int, float]:
    """Split the first STREAM_DAYS days of events into STREAM_SLICES
    time-ordered parquet files with seeded boundaries; a seeded 1-3 % of
    events arrive in a later slice (late events). Returns (events, input
    bytes, late share)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    ev = pq.read_table(
        os.path.join(data_dir, "events.parquet"),
        columns=["event_id", "ts", "value", "event_type"],
    )
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    ev = ev.filter(pa.array(ts < ts[0] + STREAM_DAYS * 86_400_000_000))
    n = ev.num_rows
    weights = [0.7 + 0.6 * rng.random() for _ in range(STREAM_SLICES)]
    total = sum(weights)
    cuts, acc = [0], 0.0
    for w in weights[:-1]:
        acc += w
        cuts.append(round(n * acc / total))
    cuts.append(n)
    slice_of = np.repeat(np.arange(STREAM_SLICES), np.diff(cuts))
    late_share = 0.01 + 0.02 * rng.random()
    early = np.flatnonzero(slice_of < STREAM_SLICES - 1)
    for i in rng.sample(list(early), round(n * late_share)):
        slice_of[i] = rng.randrange(slice_of[i] + 1, STREAM_SLICES)
    src.mkdir(parents=True)
    now, size = time.time(), 0
    for s in range(STREAM_SLICES):
        path = src / f"slice-{s:03d}.parquet"
        pq.write_table(ev.filter(pa.array(slice_of == s)), path)
        # the file source orders by modification time
        stamp = now - 600 + s
        os.utime(path, (stamp, stamp))
        size += path.stat().st_size
    return n, size, late_share


def progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def stream_pass(spark, run_dir: Path, src: Path, tag: str, seconds: float, ledger=None):
    """Stream the slices in ``src`` into a fresh store; returns
    (steal-scaled wall_s, raw wall_s, progress, store path, stream
    exception or None)."""
    from lol_data_collection_system_spark.streaming import rollup

    schema = spark.read.parquet(str(src)).schema
    store, ckpt = run_dir / f"store_{tag}", run_dir / f"ckpt_{tag}"
    if ledger is not None:
        from lol_data_collection_system_spark.sources.versioned import current_version

        make_sink = rollup.incremental_rollup_sink

        def observed_sink(store_path, *args, **kwargs):
            apply_batch = make_sink(store_path, *args, **kwargs)

            def apply_and_observe(batch_df, batch_id):
                apply_batch(batch_df, batch_id)
                ledger.observe(current_version(store_path)[0])

            return apply_and_observe

        rollup.incremental_rollup_sink = observed_sink
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        ticks, t0 = cpu_ticks(), time.perf_counter()
        query = rollup.hourly_rollup_stream(stream, str(store), str(ckpt))
        finished = query.awaitTermination(seconds * BUDGETS_BEFORE_ABANDON)
        raw = time.perf_counter() - t0
        wall = unstolen(raw, ticks)
        if not finished:
            query.stop()
        error = query.exception()
        return wall, raw, progress_dicts(query), str(store), error
    finally:
        if ledger is not None:
            rollup.incremental_rollup_sink = make_sink


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="input scale factor; the self-test runs at 0.001")
    return ap.parse_args(argv)


def peak_rss_mb(spark) -> float:
    """Peak resident memory so far of the driver JVM plus the Python
    driver."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cache_state(spark) -> tuple[float, float]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)
    return float(jsc.getPersistentRDDs().size()), mb


def metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json:
    the end-to-end metrics untraced, the per-layer metrics traced."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def sources_md5(paths: list[Path]) -> str:
    """md5 over the contents of the given ``.py`` files and of every
    ``.py`` file under the given directories, in path order."""
    files = []
    for p in paths:
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    h = hashlib.md5()
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def baseline_key(workload: str, sf: float) -> str:
    """What a workload runs and the code that runs it, so that untraced
    walls of another definition or another version of the program or the
    benchmark never serve as the tracing-overhead baseline."""
    if workload == "stream_rollup":
        definition = [f"slices={STREAM_SLICES}", f"days={STREAM_DAYS}"]
    else:
        definition = list(WORKLOADS[workload])
    code = sources_md5([REPO / PKG, REPO / "__spark_entry__.py", REPO / "tools", HERE])
    return names_md5(definition + [f"sf={sf}", code])


def untraced_wall_median(workload: str, sf: float) -> float | None:
    """Median wall_s of the untraced runs recorded in this checkout."""
    path = WORK / "history.jsonl"
    if not path.exists():
        return None
    walls = []
    for line in path.read_text().splitlines():
        rec = json.loads(line)
        if rec.get("key") == baseline_key(workload, sf) and not rec["trace"]:
            walls.append(rec["wall_s"])
    return statistics.median(walls) if walls else None


def main(argv=None) -> int:
    args = parse_args(argv)
    ticks = cpu_ticks()
    missing = [p for p in (REPO / PKG, REPO / "__spark_entry__.py", REPO / "tools" / "verify_local.py")
               if not p.exists()]
    if missing:
        print(f"perfbench: program sources not found: {[str(p) for p in missing]}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(dir=WORK / "runs"))
    spark = None
    try:
        isolate(run_dir)
        sys.path.insert(0, str(HERE))
        t0 = time.perf_counter()
        data_dir = prepare_inputs(args.sf)
        # the inputs are built once per checkout and are not the program's set-up
        inputs_s = time.perf_counter() - t0
        spark, get_spark_s, warm_up_s = start_session(run_dir, trace, data_dir)
        setup_raw = process_age_s() - inputs_s
        setup_s = unstolen(setup_raw, ticks)
        result = run_workload(spark, args, run_dir, data_dir, trace)
        result["metrics"]["setup_s"] = setup_s
        result["extra"].update(raw_setup_s=setup_raw, get_spark_s=get_spark_s,
                               warm_up_s=warm_up_s, steal_share=steal_share(ticks))
        result["layers"]["session.get_spark_s"] = get_spark_s
        stop_session(spark)
        spark = None
        if trace:
            fold_exec(run_dir, result, args.workload)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return report(args, result)


def run_workload(spark, args, run_dir: Path, data_dir: str, trace: bool) -> dict:
    from collections import defaultdict

    import checks
    from tracing import StoreLedger, Tracer, fold_progress

    layers: dict[str, float] = defaultdict(float)
    tracer = None
    if trace:
        import __spark_entry__  # noqa: F401 - load every module before rebinding

        tracer = Tracer()
        tracer.install()
        layers.update(dict.fromkeys(metric_units(trace=True), 0.0))
    ops = Ops()
    metrics: dict[str, float] = {}
    budget_s = args.seconds * BUDGETS_BEFORE_ABANDON
    extra: dict = {}

    if args.workload == "stream_rollup":
        n_events, in_bytes, late = write_slices(data_dir, run_dir / "slices", args.seed)
        ledger = StoreLedger() if trace else None
        if trace:
            spark.sparkContext.setJobGroup("stream_rollup", "stream")
        wall, raw_wall, progress, store, error = stream_pass(
            spark, run_dir, run_dir / "slices", "cold", args.seconds, ledger
        )
        metrics["peak_rss_mb"] = peak_rss_mb(spark)
        if trace:
            spark.sparkContext.setJobGroup("check", "output checks")
        batches = fold_progress(progress)
        ops.attempted = STREAM_SLICES
        for i in range(len(batches), STREAM_SLICES):
            ops.fail(f"batch{i}", f"not run: {error}" if error else "not run")
        for i, b in enumerate(batches):
            ops.raw[f"batch{i}"] = b["trigger_s"]
            ops.latency[f"batch{i}"] = b["trigger_s"] * wall / raw_wall
        try:
            ingested = spark.read.parquet(str(run_dir / "slices"))
            if not checks.rollup_matches(spark, store, ingested):
                for i in range(STREAM_SLICES):
                    ops.fail(f"batch{i}", "rollup store differs from the batch recompute")
        except Exception as exc:  # noqa: BLE001
            for i in range(STREAM_SLICES):
                ops.fail(f"batch{i}", f"store check raised {type(exc).__name__}: {exc}")
        extra = {"events": n_events, "late_share": round(late, 4), "batches": len(batches),
                 "raw_wall_s": raw_wall}
        metrics["events_per_s"] = n_events / wall
        if trace:
            for key in ("add_batch_s", "query_planning_s", "get_batch_s", "wal_commit_s"):
                layers[f"streaming.{key}"] = sum(b[key] for b in batches)
            n_b = max(1, len(ledger.rewritten))
            layers["streaming.files_rewritten_per_batch"] = sum(ledger.rewritten) / n_b
            layers["streaming.files_linked_per_batch"] = sum(ledger.linked) / n_b
            layers["streaming.store_mb_end"] = ledger.store_bytes / (1024.0 * 1024.0)
            layers["streaming.write_amp"] = ledger.bytes_written / in_bytes
    else:
        names = WORKLOADS[args.workload]
        wall, frames = batch_pass(
            spark, names, data_dir, ops, time.perf_counter() + budget_s, tracer, layers
        )
        metrics["peak_rss_mb"] = peak_rss_mb(spark)
        fixture_dir = WORK / "fixtures"
        fixture_dir.mkdir(parents=True, exist_ok=True)
        oracle = checks.duckdb_results(
            checks.oracle_sqls(names, data_dir, str(fixture_dir)), data_dir, WORK / "oracle"
        )
        check_batch(frames, oracle, ops)
        extra = {"queries_md5": names_md5(names), "raw_wall_s": sum(ops.raw.values())}

    latencies = list(ops.latency.values()) or [float("nan")]
    extra["raw_op_p50_s"] = statistics.median(ops.raw.values()) if ops.raw else None
    metrics["wall_s"] = wall
    metrics["op_p50_s"] = statistics.median(latencies)
    metrics["op_p90_s"] = percentile(latencies, 90)

    if trace:
        tracer.active = False
        persisted, storage_mb = cache_state(spark)
        layers["cache.persisted_rdds_end"] = persisted
        layers["cache.storage_mb_end"] = storage_mb
        spark.sparkContext.setJobGroup("warm", "second pass")
        if args.workload == "stream_rollup":
            warm, *_ = stream_pass(spark, run_dir, run_dir / "slices", "warm", args.seconds)
        else:
            warm, _ = batch_pass(spark, names, data_dir, Ops(), time.perf_counter() + budget_s)
        layers["cache.warm_wall_s"] = warm
        layers.update(tracer.fold())
        layers["plans.build_share"] = layers["plans.build_s"] / wall if wall else 0.0
        layers["trace.wall_s"] = wall
        tracer.dump(str(WORK / f"trace-{args.workload}.json"))
    return {"ops": ops, "metrics": metrics, "layers": layers, "extra": extra}


def fold_exec(run_dir: Path, result: dict, workload: str) -> None:
    """Fold the event log into exec.* (every tagged query or stream
    group of the cold pass) and plans.eager_jobs (jobs launched while a
    query was being constructed)."""
    from tracing import event_log_file, fold_event_log

    groups = fold_event_log(event_log_file(str(run_dir / "eventlog")))
    layers = result["layers"]
    keys = ("s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "scheduler_delay_s", "scan_mb", "shuffle_read_mb", "shuffle_write_mb",
            "spill_mb", "python_udf_s")
    for k in keys:
        layers[f"exec.{k}"] = 0.0
    layers["plans.eager_jobs"] = 0.0
    per_query = {}
    for group, vals in groups.items():
        if group in ("untagged", "check", "warm"):
            continue
        per_query[group] = vals
        for k in keys:
            layers[f"exec.{k}"] += vals.get(k, 0.0)
        if group.endswith("|build"):
            layers["plans.eager_jobs"] += vals.get("jobs", 0.0)
    path = WORK / f"trace-{workload}-exec.json"
    path.write_text(json.dumps(per_query, indent=1, sort_keys=True))


def report(args, result: dict) -> int:
    ops: Ops = result["ops"]
    metrics, layers = result["metrics"], result["layers"]
    failed = len(ops.failed)
    if args.trace:
        # traced wall_s minus the median untraced wall_s of this checkout;
        # null until an untraced run of the workload has been recorded
        base = untraced_wall_median(args.workload, args.sf)
        result["extra"]["trace_overhead_s"] = (
            layers["trace.wall_s"] - base if base is not None else None
        )
        out_metrics = layers
    else:
        out_metrics = metrics
        with open(WORK / "history.jsonl", "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": 0,
                                "key": baseline_key(args.workload, args.sf),
                                "wall_s": metrics["wall_s"]}) + "\n")
    for name, s in ops.latency.items():
        print(f"perfbench: {name} {s:.3f} s", file=sys.stderr)
    for name, why in sorted(ops.failed.items()):
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    # The issue-level names, for a reader of the log.
    summary = {"workload": args.workload, "seed": args.seed,
               "failed_ops_frac": failed / ops.attempted, **result["extra"]}
    if args.workload == "stream_rollup":
        summary.update(batch_p50_s=metrics["op_p50_s"], batch_p90_s=metrics["op_p90_s"],
                       events_per_s=metrics["events_per_s"])
    else:
        summary.update(query_p50_s=metrics["op_p50_s"])
    print("perfbench summary: " + json.dumps(summary))
    units = metric_units(bool(args.trace))
    missing = set(units) - set(out_metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ops.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(out_metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
