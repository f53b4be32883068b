#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs each workload once traced on tiny inputs (a traced run also runs
the untraced timed ops beside the traced ones) and expects a correct
result; runs each once more with one verified result corrupted and expects
``failed_op_ratio`` above 0, a ``correct: false`` result and a non-zero
exit; and runs the benchmark from a directory holding only
``BENCHMARK.json`` and ``perfbench/``, expecting a non-zero exit and no
result. Every run goes in a session of its own, and no process of that
session may outlive it. Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench(cwd: Path, *args: str) -> tuple[int, list[dict], list[str]]:
    """Run the benchmark in its own session; its exit code, its JSON
    lines and the command lines of any process of that session still
    alive the moment it has exited (stdout goes to a file, so a helper
    holding it open cannot delay that moment)."""
    out_file = ROOT / ".perfbench_tmp" / f"selftest-{os.getpid()}.out"
    out_file.parent.mkdir(parents=True, exist_ok=True)
    with open(out_file, "w+") as out:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
            cwd=cwd, stdout=out, stderr=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            raise
        left = []
        for entry in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{entry}/cmdline") as f:
                    cmd = f.read().replace("\0", " ").strip()
            except OSError:
                continue
            if int(fields[3]) == proc.pid:   # an unreaped zombie counts too
                left.append(f"{entry} {fields[0]} {cmd}")
        out.seek(0)
        lines = [json.loads(x) for x in out if x.startswith("{")]
    out_file.unlink()
    return proc.returncode, lines, left


def main() -> int:
    problems: list[str] = []
    cases = (
        ("warehouse_incremental", "1", False),
        ("llm_curation", "1", False),
        ("llm_curation", "0", True),
        ("warehouse_incremental", "0", True),
    )
    for workload, trace, wrong in cases:
        args = ["--workload", workload, "--seed", "3", "--trace", trace, "--sf", "0.001"]
        rc, lines, left = bench(ROOT, *args, *(["--wrong-checksum"] if wrong else []))
        name = f"{workload} trace={trace}{' wrong-checksum' if wrong else ''}"
        if left:
            problems.append(f"{name}: processes left running: {left}")
        if len(lines) < 2:
            problems.append(f"{name}: no result (exit {rc})")
            continue
        report, result = lines[-2], lines[-1]
        ratio = report["report"]["failed_op_ratio"]
        if wrong and not (rc != 0 and not result["correct"] and ratio > 0):
            problems.append(f"{name}: corrupted checksum not caught (exit {rc}, ratio {ratio})")
        if not wrong and not (rc == 0 and result["correct"] and ratio == 0):
            problems.append(f"{name}: exit {rc}, failures {report['failures']}")
        print(f"{name}: exit {rc}, failed_op_ratio {ratio}", file=sys.stderr)

    bare = ROOT / ".perfbench_tmp" / f"bare-{os.getpid()}"
    try:
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        if (ROOT / "BENCHMARK.json").exists():
            shutil.copy(ROOT / "BENCHMARK.json", bare)
        rc, lines, left = bench(bare, "--workload", "llm_curation", "--seed", "3", "--trace", "0")
        if rc == 0 or lines or left:
            problems.append(f"bare directory: exit {rc}, printed {lines}, left {left}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    print("selftest:", "ok" if not problems else f"{len(problems)} failed", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
