"""Self-test of the benchmark at tiny size (50 pages; 50 documents).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that an untraced run prints
every end-to-end metric and a traced run every per-layer metric, each with
its declared unit, and that both runs are correct.  It checks that a wrong
expected digest makes every attempted iteration fail, and that the
benchmark exits non-zero, printing no result, in a directory holding only
BENCHMARK.json and the benchmark's own files.  Exits non-zero on the first
failed check.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: Path, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [*SPEC["command"], *args], cwd=cwd, capture_output=True, text=True,
        timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if proc.returncode != 0 and last is None:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, last


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(res: dict, declared: list[dict], label: str) -> None:
    check(set(res) == RESULT_KEYS, f"{label}: result keys")
    got = res["metrics"]
    for m in declared:
        check(m["name"] in got and got[m["name"]]["unit"] == m["unit"]
              and isinstance(got[m["name"]]["value"], (int, float)),
              f"{label}: {m['name']} [{m['unit']}]")


def main() -> int:
    base = ["--seed", "7", "--seconds", "1", "--size", "tiny"]
    for w in (w["name"] for w in SPEC["workloads"]):
        code, res = run(ROOT, "--workload", w, "--trace", "0", *base)
        check(code == 0 and res is not None, f"{w} trace 0 exits 0")
        check_metrics(res, SPEC["end_to_end"], f"{w} trace 0")
        check(res["correct"] and res["failed"] == 0
              and res["attempted"] >= 2, f"{w} trace 0 correct")

        code, res = run(ROOT, "--workload", w, "--trace", "1", *base)
        check(code == 0 and res is not None, f"{w} trace 1 exits 0")
        check_metrics(res, SPEC["per_layer"], f"{w} trace 1")
        check(res["correct"] and res["failed"] == 0, f"{w} trace 1 correct")

        code, res = run(ROOT, "--workload", w, "--trace", "0",
                        "--wrong-expected", *base)
        check(code == 0 and res is not None
              and res["failed"] == res["attempted"] and not res["correct"],
              f"{w} wrong expected digest gives failed_ratio 1.0")

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run(bare, "--workload", SPEC["workloads"][0]["name"],
                        "--trace", "0", *base)
        check(code != 0 and res is None,
              "without the program: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
