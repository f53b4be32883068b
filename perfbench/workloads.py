"""The benchmark's workloads, each one closed-loop client in this process.

Imported only after ``run.py`` has pointed the package's environment
(index root, warehouse, local dirs, cores) at the run's temp root: the
package reads those variables at import.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import gen
from spans import SparkStats, Tracer, dir_bytes, parquet_rows

# llm_curation's op set: stored-index serving first (the first warm-up
# call builds the index and its trained codebooks), then exact vector
# search, near-duplicate detection and text statistics. Six ops keep a
# run, with its cold set-up and oracle checks, near one minute.
LLM_OPS = (
    "ann_ivfpq_from_index",
    "ann_cosine_topk",
    "dedup_minhash_lsh",
    "doc_chunking",
    "tfidf_top_terms",
    "bpe_pair_stats",
)
# tables WarehousePipeline reads: the denominator of lake_bytes_per_input_byte
PIPELINE_INPUTS = ("region", "nation", "customer", "orders", "lineitem", "events")


def force(df) -> int | None:
    """Execute ``df`` in full: an xxhash64 checksum over every output
    column, so no projection can be pruned."""
    from pyspark.sql import functions as F

    return df.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("cs")
    ).collect()[0].cs


def p90(values: list[float]) -> float | None:
    """The 90th percentile, or None unless at least ten samples lie
    beyond it."""
    if len(values) < 100:
        return None
    return sorted(values)[math.ceil(0.9 * len(values)) - 1]


@dataclass
class Outcome:
    """What a run measured and what it verified."""

    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    by_op: dict[str, list[float]] = field(default_factory=dict)   # untraced op seconds per op
    timed_s: float = 0.0          # wall time of the untraced timed ops
    attempted: int = 0            # timed ops, reads and verification checks
    failures: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)   # workload-specific metrics

    def check(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok


class Harness:
    """The Spark session of one run plus, in a traced run, its tracer
    (installed by ``run.py`` before the session starts, so set-up is
    traced)."""

    def __init__(self, sf_dir: str, tmp: str, tracer: Tracer | None):
        from northwind_warehouse_spark import session

        self.sf_dir = sf_dir
        self.tmp = tmp
        self.tracer = tracer
        self.active = tracer          # the tracer while its wrappers are installed
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.stats = SparkStats(self.spark) if tracer else None

    def trace(self, on: bool) -> None:
        """Install (``on``) or remove the tracer's wrappers; ops run in
        spans and job groups only while they are installed."""
        if self.tracer is None or (self.active is not None) == on:
            return
        if on:
            self.tracer.install()
        else:
            self.tracer.uninstall()
        self.active = self.tracer if on else None

    def op(self, op_id: str, fn):
        """Run one op; while tracing, inside a root span and its own job
        group. Returns (seconds, result)."""
        t = self.active
        if t is not None:
            t.op(op_id)
            self.stats.begin(op_id)
            idx = t.begin(op_id.split("#")[0], "op")
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            seconds = time.perf_counter() - t0
            if t is not None:
                t.end(idx)
                self.stats.end(op_id)
                t.op(None)
        return seconds, result

    def span(self, name: str, layer: str, fn):
        t = self.active
        if t is None:
            return fn()
        idx = t.begin(name, layer)
        try:
            return fn()
        finally:
            t.end(idx)


@dataclass
class TracedPhase:
    """Where the traced part of a traced run starts, and what it timed."""

    first_span: int
    counters: dict[str, float]        # tracer counters when it started
    spark: dict[str, float]           # Spark status totals when it started
    op_s: list[float] = field(default_factory=list)
    timed_s: float = 0.0

    @classmethod
    def start(cls, h: Harness) -> "TracedPhase":
        return cls(len(h.tracer.spans), dict(h.tracer.counters), dict(h.stats.totals))


# -- llm_curation ---------------------------------------------------------


def llm_curation(h: Harness, seed: int, seconds: float, out: Outcome,
                 wrong_checksum: bool = False) -> dict:
    """Stored-index build, corpus build into a fresh lake, then a seeded
    closed-loop sequence of whole decks over the LLM op set. In a traced
    run, traced and untraced decks alternate, so the tracing overhead is
    read from interleaved ops."""
    import __spark_entry__ as entry
    from tests.oracle_util import compare

    from northwind_warehouse_spark.plans.pipeline import CorpusPipeline

    queries, oracles = entry.queries(), entry.oracle_sql()
    spark, sf = h.spark, h.sf_dir

    # set-up: a warm-up execution of every op (the first builds the index)
    t0 = time.perf_counter()
    warm: dict[str, int | None] = {}
    for name in LLM_OPS:
        try:
            warm[name] = force(queries[name](spark, sf))
        except Exception as e:  # noqa: BLE001 - a failing op is a measured outcome
            out.check(f"warm-up {name}: {type(e).__name__}: {e}", False)
    out.setup_s += time.perf_counter() - t0
    h.trace(False)

    # correctness, outside the timed phase: each op against its oracle
    verified: dict[str, int | None] = {}
    for name in warm:
        try:
            problems = compare(queries[name](spark, sf), oracles[name], sf)
        except Exception as e:  # noqa: BLE001
            problems = [f"{type(e).__name__}: {e}"]
        if out.check(f"oracle {name}: {problems[:1]}", not problems):
            verified[name] = warm[name]
    if wrong_checksum:  # self-test: a seeded op's verified checksum is corrupted
        victim = LLM_OPS[seed % len(LLM_OPS)]
        verified[victim] = (verified.get(victim) or 0) ^ 1

    traced = TracedPhase.start(h) if h.tracer else None
    h.trace(traced is not None)   # a traced run traces the corpus build
    t0 = time.perf_counter()
    chunks = CorpusPipeline(spark, os.path.join(h.tmp, "corpus")).run(sf)
    out.extra["corpus_build_s"] = time.perf_counter() - t0
    _check_corpus(out, chunks)

    # whole decks only, so each op weighs the same; a traced run times
    # as many traced decks as untraced ones, alternating
    step = 1 if traced is None else 2   # a traced run stops after whole pairs
    t_start = time.perf_counter()
    for k, deck in enumerate(gen.op_decks(list(LLM_OPS), seed, 256)):
        if k % step == 0 and time.perf_counter() - t_start >= step * seconds:
            break
        is_traced = traced is not None and (k + seed) % 2 == 0
        h.trace(is_traced)
        t_deck = time.perf_counter()
        for name in deck:
            try:
                s, cs = h.op(f"{name}#{k}", lambda: _build_and_execute(h, queries[name]))
            except Exception as e:  # noqa: BLE001
                out.check(f"{name}: {type(e).__name__}: {e}", False)
                continue
            out.check(f"{name}: checksum {cs} != verified {verified.get(name)}",
                      name in verified and cs == verified[name])
            if is_traced:
                traced.op_s.append(s)
            else:
                out.op_s.append(s)
                out.by_op.setdefault(name, []).append(s)
        if is_traced:
            traced.timed_s += time.perf_counter() - t_deck
        else:
            out.timed_s += time.perf_counter() - t_deck
    h.trace(False)
    return _layer_metrics(h, out, traced) if traced else {}


def _build_and_execute(h: Harness, query) -> int | None:
    df = h.span("build", "plans", lambda: query(h.spark, h.sf_dir))
    return h.span("execute", "plans", lambda: force(df))


def _check_corpus(out: Outcome, chunks) -> None:
    """The corpus lake holds non-empty chunks of at most 20 tokens in
    exactly the train and val splits."""
    from pyspark.sql import functions as F

    r = chunks.agg(
        F.count("*").alias("n"),
        F.max(F.size(F.split("chunk_text", " "))).alias("max_tok"),
        F.min(F.length("chunk_text")).alias("min_len"),
        F.sort_array(F.collect_set("split")).alias("splits"),
    ).collect()[0]
    out.check(f"corpus build: {r}", r.n > 0 and r.max_tok <= 20 and r.min_len > 0
              and list(r.splits) == ["train", "val"])


# -- warehouse_incremental -------------------------------------------------


def warehouse_incremental(h: Harness, seed: int, seconds: float, out: Outcome,
                          wrong_checksum: bool = False) -> dict:
    """The paper's ``dbt run`` loop: an initial build, then one
    ``WarehousePipeline.run`` per increment with gold reads beside it.
    A traced run repeats the timed increments traced on a second lake,
    before or after the untraced ones as the seed decides."""
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    spark = h.spark
    base = os.path.dirname(h.sf_dir.rstrip("/"))
    # batch 0 is the initial load; the timed phase takes the increments
    # in order until its time is up and two have run
    batches = gen.slice_batches(h.sf_dir, os.path.join(base, "batches"), seed,
                                n_increments=1 + math.ceil(seconds / 2))

    def initial_build(lake: str) -> tuple[WarehousePipeline, float]:
        p = WarehousePipeline(spark, os.path.join(h.tmp, lake))
        t0 = time.perf_counter()
        p.run(batches[0].dir)
        initial = time.perf_counter() - t0
        _gold_reads(h, out, p, batches[0], 0, False)
        return p, initial

    # set-up: the initial build (a first ``run``) and its gold reads are
    # the warm-up executions of every op
    t0 = time.perf_counter()
    pipe, out.extra["initial_build_s"] = initial_build("lake_untraced")
    out.setup_s += time.perf_counter() - t0
    h.trace(False)

    def timed_pass(p: WarehousePipeline, tag: str, limit: int | None) -> tuple[list, list, float, int]:
        op_s, read_s, last = [], [], 0
        t_start = time.perf_counter()
        for i, batch in enumerate(batches[1:], 1):
            # at least two increments, so op_p50_s is never one sample
            if (limit is None and len(op_s) >= 2 and time.perf_counter() - t_start >= seconds) or \
                    (limit is not None and len(op_s) == limit):
                break
            try:
                s, _ = h.op(f"incremental_run#{tag}{i}", lambda: p.run(batch.dir))
            except Exception as e:  # noqa: BLE001 - a failing op is a measured outcome
                out.check(f"incremental run {i}: {type(e).__name__}: {e}", False)
                break
            out.check(f"incremental run {i}", True)
            op_s.append(s)
            last = i
            read_s.extend(_gold_reads(h, out, p, batch, i, wrong_checksum))
        return op_s, read_s, time.perf_counter() - t_start, last

    traced = None
    if h.tracer is None:
        out.op_s, reads, out.timed_s, last = timed_pass(pipe, "untraced", None)
    else:
        # the traced lake gets its initial build before the wrappers go in;
        # the seed decides which pass runs first, so drift cancels over seeds
        traced_pipe, _ = initial_build("lake_traced")
        if seed % 2 == 0:
            traced = _traced_increments(h, timed_pass, traced_pipe, None)
            out.op_s, reads, out.timed_s, last = timed_pass(pipe, "untraced", len(traced.op_s))
        else:
            out.op_s, reads, out.timed_s, last = timed_pass(pipe, "untraced", None)
            traced = _traced_increments(h, timed_pass, traced_pipe, len(out.op_s))

    timed_batches = batches[1:last + 1]
    changed = sum(b.new_events + b.new_orders for b in timed_batches)
    if out.op_s:
        out.extra["change_rows_per_s"] = changed / sum(out.op_s)
        out.extra["gold_read_p50_s"] = statistics.median(reads)
    _check_final_state(h, out, pipe, batches[last])
    out.extra["lake_bytes_per_input_byte"] = dir_bytes(pipe.lake) / sum(
        os.path.getsize(os.path.realpath(os.path.join(batches[last].dir, f"{t}.parquet")))
        for t in PIPELINE_INPUTS)
    return _layer_metrics(h, out, traced, changed_rows=changed) if traced else {}


def _traced_increments(h: Harness, timed_pass, p, limit: int | None) -> TracedPhase:
    """``timed_pass`` over pipeline ``p`` with the tracer installed."""
    traced = TracedPhase.start(h)
    h.trace(True)
    traced.op_s, _, traced.timed_s, _ = timed_pass(p, "traced", limit)
    h.trace(False)
    return traced


def _gold_reads(h: Harness, out: Outcome, p, batch: gen.Batch, i: int,
                wrong_checksum: bool) -> list[float]:
    """After run ``i``: year-slice aggregates over the current fact for
    the last three order years, and the dim as of its previous (after the
    initial build: its only) and its first version. Each read is verified
    against the batch's source rows or the version's parquet footers."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.sources.versioned import VersionedTable

    orders = pq.read_table(os.path.join(batch.dir, "orders.parquet"),
                           columns=["o_orderkey", "o_orderdate"])
    latest_year = pc.max(pc.year(orders["o_orderdate"])).as_py()
    read_s = []
    for year in range(latest_year - 2, latest_year + 1):
        s, row = h.op(f"gold_fact_year#{i}-{year}", lambda: p.table(p.FACT_ORDERS)
                      .filter(F.col("order_year") == year)
                      .agg(F.count("*").alias("n"), F.sum("order_id").alias("ids")).collect()[0])
        in_year = orders.filter(pc.equal(pc.year(orders["o_orderdate"]), year))
        want = (in_year.num_rows, pc.sum(in_year["o_orderkey"]).as_py())
        if wrong_checksum and year == latest_year:  # self-test: corrupt a verified read
            want = (want[0] + 1, want[1])
        out.check(f"gold fact year {year} after increment {i}: {tuple(row)} != {want}",
                  (row.n, row.ids) == want)
        read_s.append(s)

    versions = VersionedTable(h.spark, p.lake, p.DIM_USERS).versions()
    for v in (versions[max(len(versions) - 2, 0)], versions[0]):
        s, n = h.op(f"gold_dim_asof#{i}-v{v['version']}",
                    lambda: p.table(p.DIM_USERS, v["version"]).count())
        out.check(f"gold dim version {v['version']}: {n} rows", n == parquet_rows(v["path"]))
        read_s.append(s)
    return read_s


def _check_final_state(h: Harness, out: Outcome, p, last: gen.Batch) -> None:
    """The incrementally built dim equals a one-shot SCD2 build over the
    final slice, and the fact equals ``medallion.fact_orders`` on it."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.functions.hashing import num_str, surrogate_key
    from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream
    from northwind_warehouse_spark.plans import medallion

    events = load(h.spark, last.dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    one_shot = scd2_from_change_stream(
        events, key_cols=["user_id"], ts_col="ts",
        hash_col=surrogate_key("event_type", num_str("value")),
        attr_cols=["event_type", "value"], tiebreak_cols=["event_id"], sk_name="user_sk",
    )
    fact = medallion.fact_orders(h.spark, last.dir).withColumn("order_year", F.year("order_date"))
    for name, want in ((p.DIM_USERS, one_shot), (p.FACT_ORDERS, fact)):
        got = p.table(name)
        same = sorted(got.columns) == sorted(want.columns) and \
            _multiset_digest(got) == _multiset_digest(want)
        out.check(f"final {name} differs from its one-shot rebuild", same)


def _multiset_digest(df) -> tuple:
    """Row count plus the sum and xor of per-row hashes over the columns
    in name order: equal for equal row multisets, in one job."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    return tuple(df.agg(F.count("*"), F.sum(F.pmod(h, F.lit(2**31 - 1))), F.bit_xor(h)).collect()[0])


# -- traced run ------------------------------------------------------------


def _layer_metrics(h: Harness, out: Outcome, traced: TracedPhase, changed_rows: int = 0) -> dict:
    """The per-layer metrics of the traced phase. The tracing overhead is
    the traced minus the untraced op median over ops run interleaved
    with or beside each other. ``changed_rows`` is the source change the
    traced phase absorbs."""
    t, first = h.tracer, traced.first_span
    untraced_p50 = statistics.median(out.op_s) if out.op_s else 0.0
    traced_p50 = statistics.median(traced.op_s) if traced.op_s else 0.0
    sx = {k: v - traced.spark[k] for k, v in h.stats.totals.items()}
    cached_rdds, cached_bytes = h.stats.cached()
    execute = t.layer_seconds("plans", "execute", first)
    build = t.layer_seconds("plans", since=first) - execute
    if not execute:  # pipeline runs: all but their plan construction executes
        execute = sum(traced.op_s) - build
    c = {k: v - traced.counters.get(k, 0) for k, v in t.counters.items()}
    metrics = {
        "session.get_spark_s": t.layer_seconds("session"),
        "catalog.load_calls": c.get("catalog.load_calls", 0),
        "catalog.load_s": t.layer_seconds("catalog", "load", first),
        "catalog.table_rows_s": t.layer_seconds("catalog", "table_rows", first),
        "plans.build_s": build,
        "plans.execute_s": execute,
        "plans.build_share": build / (build + execute) if build + execute else 0.0,
        "spark.jobs": sx["jobs"],
        "spark.stages": sx["stages"],
        "spark.tasks": sx["tasks"],
        "spark.input_bytes": sx["input_bytes"],
        "spark.shuffle_read_bytes": sx["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": sx["shuffle_write_bytes"],
        "spark.executor_run_s": sx["executor_run_s"],
        "spark.executor_cpu_s": sx["executor_cpu_s"],
        "spark.gc_s": sx["gc_s"],
        "spark.core_busy_ratio": sx["executor_run_s"] / (traced.timed_s * h.cores),
        "spark.cached_rdds": cached_rdds,
        "spark.cached_bytes": cached_bytes,
        "pipeline.run_staging_s": t.layer_seconds("pipeline", "run_staging", first),
        "pipeline.run_dim_users_s": t.layer_seconds("pipeline", "run_dim_users", first),
        "pipeline.run_fact_orders_s": t.layer_seconds("pipeline", "run_fact_orders", first),
        "pipeline.refresh_failed_lookups_s": t.layer_seconds("pipeline", "refresh_failed_lookups", first),
        "pipeline.useful_write_ratio":
            changed_rows / c["rows_written"] if c.get("rows_written") else 0.0,
        "operators.audit_calls": c.get("operators.audit_calls", 0),
        "operators.audit_s": t.layer_seconds("operators.audit", since=first),
        "sources.versioned.write_s": t.layer_seconds("sources.versioned", "write", first),
        "sources.versioned.commit_bytes": c.get("sources.versioned.commit_bytes", 0),
        "sources.versioned.read_s": t.layer_seconds("sources.versioned", "read", first),
        "sources.versioned.versions": c.get("sources.versioned.versions", 0),
        "sources.lake.write_table_s": t.layer_seconds("sources.lake", since=first),
        "sources.lake.write_bytes": c.get("sources.lake.write_bytes", 0),
        "sources.index_store.build_s": t.layer_seconds("sources.index_store", "build"),
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.overhead_share": (traced_p50 - untraced_p50) / untraced_p50 if untraced_p50 else 0.0,
        "trace.spans": len(t.spans),
    }
    metrics.update({f"self.{layer}_s": s for layer, s in t.self_seconds().items()})
    return metrics
