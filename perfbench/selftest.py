"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload untraced and traced at sf0.001 and checks that each
run exits 0, prints a last line with exactly the keys ``correct``,
``attempted``, ``failed`` and ``metrics``, reports no failed operation,
and emits every metric BENCHMARK.json names for its mode, with that
metric's unit. Then checks that the benchmark refuses to run (non-zero
exit, no result line) from a directory holding only BENCHMARK.json and
the benchmark's own files.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def run(cwd: Path, workload: str, trace: int, extra: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "20", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_run(bench: dict, workload: str, trace: int) -> list[str]:
    proc = run(REPO, workload, trace, ["--sf", "0.001"])
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-1500:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(out)}")
    if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
        errors.append(f"{where}: correct={out['correct']} failed={out['failed']}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        errors.append(f"{where}: metric/unit mismatch {sorted(set(got.items()) ^ set(want.items()))}")
    print(f"{where}: {'ok' if not errors else 'FAILED'}", flush=True)
    return errors


def check_refuses_without_program() -> list[str]:
    (HERE / "_work").mkdir(exist_ok=True)
    bare = Path(tempfile.mkdtemp(dir=HERE / "_work"))
    try:
        shutil.copy(REPO / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
        proc = run(bare, "lol_etl", 0, [])
        lines = proc.stdout.strip().splitlines()
        if proc.returncode == 0 or (lines and lines[-1].startswith("{")):
            return [f"bare checkout: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
        print("bare checkout refused: ok", flush=True)
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    errors = check_refuses_without_program()
    for workload in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            errors += check_run(bench, workload, trace)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
