#!/usr/bin/env python3
"""Self-test: the benchmark's output checks must catch a broken program.

    python3 perfbench/selftest.py

At 500 documents (the testdata sf0.001 size) every workload runs three
times: clean, which must pass and exit 0, then with one output row dropped
and with a corrupted expected checksum, each of which must report
`failed > 0` (error_rate > 0) and exit non-zero. Finally the benchmark is
run from a directory holding only BENCHMARK.json and perfbench/, where it
must exit non-zero without printing a result. Takes ~10 minutes on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["extract_short", "extract_long", "extract_commit", "neardup_dedup"]


def run(cwd: Path, workload: str, inject: str | None) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", "0", "--docs", "500"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    bad = []
    for w in WORKLOADS:
        for inject in (None, "drop_row", "bad_checksum"):
            rc, res = run(ROOT, w, inject)
            if inject is None:
                ok = rc == 0 and res is not None and res["correct"] and res["failed"] == 0
            else:
                ok = rc != 0 and res is not None and not res["correct"] and res["failed"] > 0
            summary = res and {k: res[k] for k in ("correct", "attempted", "failed")}
            print(f"{w:15s} {inject or 'clean':12s} exit={rc} {summary} {'ok' if ok else 'FAIL'}",
                  flush=True)
            if not ok:
                bad.append((w, inject))

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run(bare, "extract_short", None)
    shutil.rmtree(bare, ignore_errors=True)
    ok = rc != 0 and res is None
    print(f"{'bare checkout':28s} exit={rc} result={res} {'ok' if ok else 'FAIL'}")
    if not ok:
        bad.append(("bare", None))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
