"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the program from outside:

* `Tracer` rebinds the public functions of chosen modules, in every
  module namespace that imported them, to wrappers that record spans
  (name, layer, start, end, parent) in memory;
* `catalyst_phases` reads Catalyst's phase tracker of a query's frame;
* `fold_event_log` reads Spark's uncompressed JSON event log and folds
  task metrics per job group (the benchmark tags every query's jobs with
  ``setJobGroup``);
* `fold_progress` folds `StreamingQuery.recentProgress` durations;
* `StoreLedger` does byte and inode accounting over a versioned store
  after every micro-batch.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "lol_data_collection_system_spark"

#: layer -> module whose public functions are all wrapped
MODULE_LAYERS = {
    f"operators.{m}": f"{PKG}.operators.{m}"
    for m in (
        "dedup", "similarity", "graph", "fights",
        "windows", "classifier", "joins", "aggregates",
    )
}

#: layer -> (module, function): single functions with a layer of their own
FUNCTION_LAYERS = {
    "sources.load_table": (f"{PKG}.sources.tables", "load_table"),
    "sources.summary_cache": (f"{PKG}.sources.cache", "materialize_summary"),
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    query: str | None = None


@dataclass
class Tracer:
    """In-memory span recorder plus the function wrappers feeding it."""

    spans: list[Span] = field(default_factory=list)
    active: bool = True
    query: str | None = None
    summary_calls: int = 0
    summary_built: int = 0
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), parent=parent, query=self.query))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.remove(idx)

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if fn.__name__ == "materialize_summary":
                args, kwargs = self._count_builds(args, kwargs)
            idx = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return wrapper

    def _count_builds(self, args, kwargs):
        """Wrap materialize_summary's ``build`` to tell builds from hits."""
        args = list(args)
        build = args[2] if len(args) > 2 else kwargs["build"]

        def counted_build():
            self.summary_built += 1
            return build()

        if len(args) > 2:
            args[2] = counted_build
        else:
            kwargs["build"] = counted_build
        self.summary_calls += 1
        return tuple(args), kwargs

    def install(self) -> int:
        """Wrap every public function of the MODULE_LAYERS modules and the
        FUNCTION_LAYERS functions, and rebind each wrapper in every loaded
        module of the package and in ``__spark_entry__``. Returns the
        number of rebinds."""
        import importlib

        targets: dict[int, tuple] = {}
        for layer, mod_name in MODULE_LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod_name
                    and not hasattr(obj, "evalType")  # pandas/Python UDFs
                ):
                    targets[id(obj)] = (obj, self._wrap(obj, layer))
        for layer, (mod_name, attr) in FUNCTION_LAYERS.items():
            obj = getattr(importlib.import_module(mod_name), attr)
            targets[id(obj)] = (obj, self._wrap(obj, layer))
        rebinds = 0
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == "__spark_entry__" or mod_name.startswith(PKG)):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    rebinds += 1
        return rebinds

    def fold(self) -> dict[str, float]:
        """Per-layer busy time and call counts. Nested calls within the
        same layer count once (outermost span)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].layer == s.layer:
                    nested = True
                    break
                p = self.spans[p].parent
            if nested:
                continue
            out[f"{s.layer}.s"] += s.end - s.start
            out[f"{s.layer}.calls"] += 1
        out["sources.summary_cache.built"] = float(self.summary_built)
        out["sources.summary_cache.hits"] = float(self.summary_calls - self.summary_built)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds of ``df``'s query execution.
    Forces optimization and physical planning (not execution) first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: wall time covered by its jobs, job/stage/task
    counts, summed task metrics. Python UDF time is the SQL metric
    that Python-evaluating operators (Arrow UDFs, mapInPandas) expose."""
    MB = 1024.0 * 1024.0
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    acc = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                jid = ev["Job ID"]
                job_group[jid] = group
                job_span[jid] = [ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                acc[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                acc[stage_group.get(sid, "untagged")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = acc[stage_group.get(ev["Stage ID"], "untagged")]
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                run_ms = m.get("Executor Run Time", 0)
                g["tasks"] += 1
                g["executor_run_s"] += run_ms / 1000.0
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                g["scheduler_delay_s"] += max(
                    0,
                    duration
                    - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0),
                ) / 1000.0
                g["scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                g["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
                )
                g["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                for a in info.get("Accumulables", []):
                    if a.get("Name") == "time to run Python workers":  # SQL metric, ms
                        g["python_udf_s"] += float(a.get("Update") or 0) / 1000.0
    for group in acc:
        spans = sorted(job_span[j] for j, g in job_group.items() if g == group)
        covered, cur_end = 0.0, float("-inf")
        for s, e in spans:
            if e > cur_end:
                covered += e - max(s, cur_end)
                cur_end = e
        acc[group]["s"] = covered
    return {g: dict(v) for g, v in acc.items()}


PROGRESS_KEYS = {
    "triggerExecution": "trigger_s",
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "getBatch": "get_batch_s",
    "walCommit": "wal_commit_s",
}


def fold_progress(progress: list) -> list[dict[str, float]]:
    """One dict of per-phase seconds per micro-batch that read rows."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs") or {}
        out.append({v: d.get(k, 0) / 1000.0 for k, v in PROGRESS_KEYS.items()})
    return out


class StoreLedger:
    """Counts, after each committed micro-batch, the store files that
    are new inodes (rewritten) and the ones hard-linked from the previous
    version, and the bytes the new inodes hold."""

    def __init__(self) -> None:
        self.seen: set[tuple[int, int]] = set()
        self.rewritten: list[int] = []
        self.linked: list[int] = []
        self.bytes_written = 0
        self.store_bytes = 0

    def observe(self, version_dir: str) -> None:
        new = linked = 0
        seen, total = set(), 0
        for root, _dirs, files in os.walk(version_dir):
            for name in files:
                st = os.stat(os.path.join(root, name))
                key = (st.st_dev, st.st_ino)
                if key in seen:
                    continue
                seen.add(key)
                total += st.st_size
                if key in self.seen:
                    linked += 1
                else:
                    new += 1
                    self.bytes_written += st.st_size
        self.seen = seen
        self.rewritten.append(new)
        self.linked.append(linked)
        self.store_bytes = total
