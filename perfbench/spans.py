"""Tracing for the benchmark's traced run, kept outside the package.

``Tracer.install`` wraps public entry points of the package's layers
with span-recording wrappers (module attributes are replaced in every
loaded module that imported them by name; methods are replaced on
their class) and ``uninstall`` restores the originals, so untraced runs
execute the package untouched. Spans hold name, layer, start, end,
parent and op id; they stay in memory until ``dump``.

``SparkStats`` reads Spark's status tracker and status store for the
jobs of one op's job group.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "northwind_warehouse_spark"

# per-layer metric -> the end-to-end metric it should move, per workload
LAYER_MAP = {
    "session.get_spark_s": "setup_s (all workloads)",
    "catalog.load_calls": "op_p50_s (llm_curation)",
    "catalog.load_s": "op_p50_s (llm_curation)",
    "catalog.table_rows_s": "op_p50_s (llm_curation)",
    "plans.build_s": "op_p50_s, op_p90_s (llm_curation)",
    "plans.execute_s": "op_p50_s, op_p90_s (llm_curation)",
    "plans.build_share": "op_p50_s, op_p90_s (llm_curation)",
    "spark.jobs": "op_p50_s, op_p90_s (llm_curation)",
    "spark.stages": "op_p50_s, op_p90_s (llm_curation)",
    "spark.tasks": "op_p50_s, op_p90_s (llm_curation)",
    "spark.input_bytes": "op_p50_s, op_p90_s (llm_curation)",
    "spark.shuffle_read_bytes": "op_p50_s, op_p90_s (llm_curation)",
    "spark.shuffle_write_bytes": "op_p50_s, op_p90_s (llm_curation)",
    "spark.executor_run_s": "ops_per_s (all workloads)",
    "spark.executor_cpu_s": "ops_per_s (all workloads)",
    "spark.gc_s": "ops_per_s (all workloads)",
    "spark.core_busy_ratio": "ops_per_s (all workloads)",
    "spark.cached_rdds": "peak_rss_mb (llm_curation)",
    "spark.cached_bytes": "peak_rss_mb (llm_curation)",
    "pipeline.run_staging_s": "op_p50_s, change_rows_per_s (warehouse_incremental)",
    "pipeline.run_dim_users_s": "op_p50_s, change_rows_per_s (warehouse_incremental)",
    "pipeline.run_fact_orders_s": "op_p50_s, change_rows_per_s (warehouse_incremental)",
    "pipeline.refresh_failed_lookups_s": "op_p50_s, change_rows_per_s (warehouse_incremental)",
    "pipeline.useful_write_ratio": "change_rows_per_s (warehouse_incremental)",
    "operators.audit_calls": "op_p50_s (warehouse_incremental)",
    "operators.audit_s": "op_p50_s (warehouse_incremental)",
    "sources.versioned.write_s": "op_p50_s, lake_bytes_per_input_byte (warehouse_incremental)",
    "sources.versioned.commit_bytes": "lake_bytes_per_input_byte (warehouse_incremental)",
    "sources.versioned.read_s": "gold_read_p50_s (warehouse_incremental)",
    "sources.versioned.versions": "lake_bytes_per_input_byte (warehouse_incremental)",
    "sources.lake.write_table_s": "op_p50_s (warehouse_incremental), corpus_build_s (llm_curation)",
    "sources.lake.write_bytes": "op_p50_s (warehouse_incremental), corpus_build_s (llm_curation)",
    "sources.index_store.build_s": "setup_s (llm_curation)",
}
LAYERS = ("op", "session", "catalog", "plans", "pipeline", "operators.audit",
          "sources.versioned", "sources.lake", "sources.index_store")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _op: str | None = None
    _saved: list[tuple[object, str, object]] = field(default_factory=list)

    # -- spans -------------------------------------------------------------

    def begin(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> float:
        self._stack.pop()
        span = self.spans[idx]
        span.end = time.perf_counter()
        return span.end - span.start

    def op(self, op_id: str | None) -> None:
        self._op = op_id

    def add(self, counter: str, value: float) -> None:
        self.counters[counter] = self.counters.get(counter, 0) + value

    def traced(self, fn, name: str, layer: str, after=None):
        """``fn`` wrapped in a span; ``after(tracer, result, args, kwargs,
        seconds)`` records counters once the call returns."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = self.begin(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                seconds = self.end(idx)
            if after is not None:
                after(self, result, args, kwargs, seconds)
            return result

        return wrapper

    # -- patching ----------------------------------------------------------

    def _replace(self, owner: object, attr: str, new: object) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _patch(self, module: str, attr: str, wrapper) -> None:
        """Replace ``module.attr`` with ``wrapper`` there and in every
        package module that imported it by name."""
        original = getattr(sys.modules[module], attr)
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name.startswith(PKG) or mod_name == "__spark_entry__") \
                    and mod is not None and mod.__dict__.get(attr) is original:
                self._replace(mod, attr, wrapper)

    def _patch_function(self, module: str, attr: str, layer: str, after=None) -> None:
        self._patch(module, attr, self.traced(getattr(sys.modules[module], attr), attr, layer, after))

    def _patch_method(self, cls: type, attr: str, name: str, layer: str, after=None) -> None:
        self._replace(cls, attr, self.traced(cls.__dict__[attr], name, layer, after))

    def _traced_ensure(self, ensure):
        """``ensure_bucketed_table`` in a span renamed ``build`` when the
        call built the index (its ``build_df`` ran) instead of serving a
        published one."""

        @functools.wraps(ensure)
        def wrapper(spark, table_prefix, root, identity_tag, build_df, *args, **kwargs):
            idx = self.begin("ensure_bucketed_table", "sources.index_store")

            def build():
                self.spans[idx].name = "build"
                return build_df()

            try:
                return ensure(spark, table_prefix, root, identity_tag, build, *args, **kwargs)
            finally:
                self.end(idx)

        return wrapper

    def install(self) -> None:
        """Wrap the package's layer entry points. Imports them first so
        every by-name import is already bound when patching."""
        import __spark_entry__  # noqa: F401  (binds every plan module)
        from northwind_warehouse_spark.operators.incremental import AuditControl
        from northwind_warehouse_spark.plans.pipeline import CorpusPipeline, WarehousePipeline
        from northwind_warehouse_spark.sources import index_store, lake  # noqa: F401
        from northwind_warehouse_spark.sources.versioned import VersionedTable

        self._patch_function(f"{PKG}.session", "get_spark", "session")
        self._patch_function(f"{PKG}.catalog", "load", "catalog",
                             lambda t, *_: t.add("catalog.load_calls", 1))
        self._patch_function(f"{PKG}.catalog", "table_rows", "catalog")
        for builder in ("stg_customer", "stg_orders", "stg_lineitem", "fact_orders", "dim_customer"):
            self._patch_function(f"{PKG}.plans.medallion", builder, "plans")
        for stage in ("run_staging", "run_dim_users", "run_fact_orders", "refresh_failed_lookups"):
            self._patch_method(WarehousePipeline, stage, stage, "pipeline")
        self._patch_method(CorpusPipeline, "run", "corpus_run", "pipeline")
        for call in ("initialize", "get", "update"):
            self._patch_method(AuditControl, call, call, "operators.audit",
                               lambda t, *_: t.add("operators.audit_calls", 1))
        self._patch_method(VersionedTable, "write", "write", "sources.versioned", _after_commit)
        self._patch_method(VersionedTable, "read", "read", "sources.versioned")
        self._patch_function(f"{PKG}.sources.lake", "write_table", "sources.lake",
                             _after_write_table)
        store = f"{PKG}.sources.index_store"
        self._patch(store, "publish_parquet",
                    self.traced(index_store.publish_parquet, "build", "sources.index_store"))
        self._patch(store, "ensure_bucketed_table",
                    self._traced_ensure(index_store.ensure_bucketed_table))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    # -- reporting ---------------------------------------------------------

    def layer_seconds(self, layer: str, name: str | None = None, since: int = 0) -> float:
        """Wall time covered by the outermost spans of ``layer`` (and
        ``name``) recorded from span index ``since`` on."""
        total = 0.0
        for i, s in enumerate(self.spans[since:], since):
            if s.layer != layer or (name is not None and s.name != name):
                continue
            p = s.parent
            while p is not None and not (self.spans[p].layer == layer
                                         and (name is None or self.spans[p].name == name)):
                p = self.spans[p].parent
            if p is None:
                total += s.end - s.start
        return total

    def self_seconds(self) -> dict[str, float]:
        """Per layer, over every recorded span (the traced set-up and the
        traced pass): span durations minus the time their direct child
        spans cover (children of one span never overlap: calls nest)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "spans": [s.__dict__ for s in self.spans],
                "counters": self.counters,
            }, f)


def _after_commit(t: Tracer, version: int, args, kwargs, seconds: float) -> None:
    table = args[0]
    path = os.path.join(table.dir, f"v={version}")
    t.add("sources.versioned.commit_bytes", dir_bytes(path))
    t.add("sources.versioned.versions", 1)
    t.add("rows_written", parquet_rows(path))


def _after_write_table(t: Tracer, result, args, kwargs, seconds: float) -> None:
    path = args[1] if len(args) > 1 else kwargs["path"]
    t.add("sources.lake.write_bytes", dir_bytes(path))
    t.add("rows_written", parquet_rows(path))


class SparkStats:
    """Per-op Spark work read from the status tracker (job and stage ids
    of the op's job group) and the status store (stage metrics)."""

    FIELDS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "executor_run_s", "executor_cpu_s", "gc_s")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.totals = dict.fromkeys(self.FIELDS, 0.0)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        t = self.totals
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            t["jobs"] += 1
            for stage in info.stageIds:
                attempts = store.stageData(stage, False, gw.jvm.java.util.ArrayList(), False,
                                           no_quantiles)
                for i in range(attempts.length()):
                    d = attempts.apply(i)
                    if d.numCompleteTasks() == 0 and d.numTasks() > 0:
                        continue  # skipped stage: its shuffle output was reused
                    t["stages"] += 1
                    t["tasks"] += d.numCompleteTasks()
                    t["input_bytes"] += d.inputBytes()
                    t["shuffle_read_bytes"] += d.shuffleReadBytes()
                    t["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    t["executor_run_s"] += d.executorRunTime() / 1e3
                    t["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    t["gc_s"] += d.jvmGcTime() / 1e3

    def cached(self) -> tuple[int, int]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        rdds = [i for i in infos if i.isCached()]
        return len(rdds), sum(i.memSize() + i.diskSize() for i in rdds)
