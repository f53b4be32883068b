#!/usr/bin/env python3
"""Benchmark of the warehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one closed-loop client over local[<cores>]):

- ``warehouse_incremental``: the incremental ``dbt run`` — an initial
  build, then ``WarehousePipeline.run`` per seeded increment, with gold
  reads (year-slice fact aggregates, the dim as of earlier versions)
  after each.
- ``llm_curation``: stored IVF-PQ index build, a ``CorpusPipeline`` build
  into a fresh lake, then a seeded sequence over the LLM op set.

The seed generates every input (``gen.py``); the run works in a temp
root under the checkout that it removes afterwards. With ``--trace 0``
the last stdout line holds the end-to-end metrics, with ``--trace 1``
the per-layer metrics of traced timed ops (listed with the end-to-end
metric each should move in ``spans.LAYER_MAP``): traced decks that
alternate with untraced ones, or the increments repeated traced on a
second lake. The line before it is a report with every workload
metric, the host canaries and the failures. Exits 1 if any output was wrong, 2 if the package
sources are missing.

End-to-end metrics, bounded in BENCHMARK.json: ``setup_s`` (session
start plus the warm-up executions of every op, which build the index
or the initial warehouse), ``op_p50_s`` (an op is one query or one
incremental run) and ``ops_per_s``. The report adds ``peak_rss_mb``
(VmHWM of this process plus the JVM; unbounded, because with the
package's growing 8g heap it spreads more between runs than any bound
allows), ``op_p90_s`` (only with ten ops beyond it),
``failed_op_ratio`` (an op or check that raised or returned a wrong
result), per-op medians and, per workload, ``initial_build_s``,
``change_rows_per_s``, ``gold_read_p50_s``, ``lake_bytes_per_input_byte``
or ``corpus_build_s``.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("warehouse_incremental", "llm_curation")


def _spin() -> None:
    x = 0
    for i in range(10_000_000):
        x += i
    if x != 49999995000000:
        raise RuntimeError("spin canary miscounted")


def canaries() -> dict:
    """Host-speed stamps, recorded and never waited on: loadavg, one
    single-thread spin and one spin per core run at once (the spins of
    bench.py), and the CPU tick counters whose steal share between two
    stamps shows time the host gave to other guests. The per-core spins
    are forked, as in bench.py: the spawn start method would leave
    multiprocessing's resource tracker running after the run."""
    t0 = time.perf_counter()
    _spin()
    single = time.perf_counter() - t0
    ctx = mp.get_context("fork")
    procs = [ctx.Process(target=_spin) for _ in range(len(os.sched_getaffinity(0)))]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    if any(p.exitcode for p in procs):
        raise RuntimeError(f"spin canary failed: exit codes {[p.exitcode for p in procs]}")
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "spin_s": single,
            "spin_mt_s": time.perf_counter() - t0, "steal_ticks": ticks[7], "cpu_ticks": sum(ticks)}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append((int(entry), fields[19]))
    found, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child[0])
    return found


def state(pid: int, start: str) -> str | None:
    """The state letter of process ``pid`` if it is still the one that
    started at ``start`` and has not been reaped, else None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0] if fields[19] == start else None


def stop_spark() -> None:
    """Stop the active session, shut its gateway JVM down and wait until
    the JVM and every process it started (Python workers) have ended and
    been reaped; whatever still runs after a minute is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 60
        for pid, start in started:
            while (st := state(pid, start)) is not None:
                if time.monotonic() > deadline:
                    if st == "Z":   # ended; only its reaper is late
                        break
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                time.sleep(0.05)


def set_env(tmp: Path) -> int:
    cores = len(os.sched_getaffinity(0))
    for d in ("index", "warehouse", "local", "java"):
        (tmp / d).mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_INDEX_ROOT": str(tmp / "index"),
        "SPARK_GRAFT_WAREHOUSE": str(tmp / "warehouse"),
        "SPARK_LOCAL_DIRS": str(tmp / "local"),
        "TMPDIR": str(tmp / "java"),
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "-Djava.io.tmpdir={tmp / "java"}" pyspark-shell',
    })
    return cores


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    ap.add_argument("--data", help="run on this dataset (catalog.load's layout) instead of "
                                   "generating one, to compare the generated load with it")
    ap.add_argument("--wrong-checksum", action="store_true",
                    help="self-test: corrupt one verified result so the run must fail")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("BENCHMARK.json", "northwind_warehouse_spark", "__spark_entry__.py",
                           "tests/oracle_util.py") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: package sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args: argparse.Namespace, tmp: Path) -> int:
    started = time.perf_counter()
    cores = set_env(tmp)
    sys.path[:0] = [str(ROOT), str(HERE)]
    before = canaries()

    import gen

    t0 = time.perf_counter()
    data = tmp / "data" / "base"
    if args.data:
        import pyarrow.parquet as pq

        shutil.copytree(args.data, data)
        rows = {t: pq.read_metadata(data / f"{t}.parquet").num_rows for t in gen.TABLES}
    else:
        rows = gen.generate(str(data), args.seed, args.sf)
    gen_s = time.perf_counter() - t0

    import workloads
    from spans import LAYER_MAP, Tracer

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
    out = workloads.Outcome()
    try:
        t0 = time.perf_counter()
        h = workloads.Harness(str(data), str(tmp), tracer)
        out.setup_s = time.perf_counter() - t0
        layer = getattr(workloads, args.workload)(h, args.seed, args.seconds, out,
                                                  args.wrong_checksum)
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(h.spark.sparkContext._gateway.proc.pid)}
    finally:
        stop_spark()
    after = canaries()

    n_ops = len(out.op_s)
    end_to_end = {
        "setup_s": out.setup_s,
        "op_p50_s": statistics.median(out.op_s) if out.op_s else 0.0,
        "ops_per_s": n_ops / out.timed_s if out.timed_s else 0.0,
    }
    failed = len(out.failures)
    report = {
        **end_to_end,
        "peak_rss_mb": rss["python"] + rss["jvm"],
        "op_p90_s": workloads.p90(out.op_s),
        "ops": n_ops,
        "failed_op_ratio": failed / max(out.attempted, 1),
        **out.extra,
        "op_p50_s_by_op": {k: statistics.median(v) for k, v in out.by_op.items()},
        "op_s": out.op_s,
    }
    trace_file = None
    if tracer:
        trace_file = ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json"
        tracer.dump(str(trace_file))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "data": args.data,
        "cores": cores, "wall_s": time.perf_counter() - started,
        "rows": rows, "generate_s": gen_s, "report": report, "peak_rss_mb_by_process": rss,
        "canaries": {"before": before, "after": after,
                     "steal_share": (after["steal_ticks"] - before["steal_ticks"])
                     / max(after["cpu_ticks"] - before["cpu_ticks"], 1)},
        "failures": out.failures[:20], "trace_file": str(trace_file) if trace_file else None,
        **({"layer_map": LAYER_MAP} if tracer else {}),
    }))
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = layer if args.trace else end_to_end
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(values) ^ set(units)}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": failed == 0, "attempted": max(out.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
