"""Tiny-input self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload once untraced and once traced on tiny inputs (2k
turns, a few hundred documents and vectors) and asserts that each run
exits 0, reports its outputs correct, and prints every metric named in
BENCHMARK.json with that metric's unit, both in the "#" report lines and
in the final JSON line. It also asserts that the runner fails, without
printing a result, in a directory holding only BENCHMARK.json and the
benchmark's own files.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_run(bench: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    where = f"{workload} trace={trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{where}: exit {proc.returncode}\n{proc.stdout[-2000:]}{proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    problems = [] if result["correct"] else [f"{where}: outputs reported incorrect"]
    wanted = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    for m in wanted:
        name, unit = m["name"], m["unit"]
        if got.get(name, {}).get("unit") != unit:
            problems.append(f"{where}: {name} missing or not in {unit}")
        if not any(ln.split()[1:2] == [name] and f" {unit} " in ln for ln in lines[:-1]):
            problems.append(f"{where}: no report line for {name} [{unit}]")
    return problems


def check_bare_directory() -> list[str]:
    bare = HERE / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns(".work", "__pycache__"))
    try:
        proc = run(bare, "reshape", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"correct"' in proc.stdout:
        return ["runner did not fail without the program"]
    return []


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = check_bare_directory()
    for wl in bench["workloads"]:
        for trace in (0, 1):
            found = check_run(bench, wl["name"], trace)
            print(f"{wl['name']} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
