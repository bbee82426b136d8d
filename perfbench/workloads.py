"""The benchmark's workloads and the metrics each run reports.

Both workloads run a closed loop with one client: the next operation starts
when the previous one has returned. Each run first warms up (its cost is
``setup_s``, less the benchmark's own input writing and output checks), then
measures whole cycles (query passes until ``seconds`` have passed, at least
two; exactly one pipeline day), then checks what the run left behind.
Every operation's output is checked outside its timed region; an operation
that raises, ends in a stage that did not succeed or returns a wrong answer
counts as failed.

- ``query_floor``: one op is one registered query: construct
  (``QUERIES[name]``), force the physical plan, execute (``collect``) and
  ``release_cached``. A cycle is one pass over the pinned roster.
- ``daily_pipeline``: one op is one day's ``runner.run``; a cycle is that
  load plus the gold refresh (``export_all(build_views(catalog))``).
"""

from __future__ import annotations

import csv
import glob
import inspect
import os
import random
import resource
import statistics
import sys
import time
import traceback
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import pets
import rosters
from tracing import JobStats, SparkProbe, Tracer, catalyst_ms

QUERY_SF = 0.001
#: The project's seed-42 test tables at this scale, copied unchanged into the
#: benchmark so that a run reads only inside its checkout. The run's seed
#: orders the roster; it does not change the tables.
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", f"sf{QUERY_SF}")
DROP_ROWS = 10_000
#: A query run warms up with two passes: after one, the JIT is still
#: warming, and the next pass runs 20-30% faster.
WARMUP_PASSES = 2
#: A query run measures at least two passes, so its tail percentile has ten
#: samples above it. Its passes are identical, so more of them only add
#: samples.
MIN_PASSES = 2
#: A pipeline run measures exactly this many days. Each day is larger than
#: the one before, so a count set by elapsed time would move the median to a
#: costlier day when the program gets faster. One day is all the benchmark's
#: time budget allows (README.md, "Why the benchmark is this size").
PIPELINE_DAYS = 1
CLOCK = datetime(2026, 1, 1, 10, 0, 0)

END_TO_END = ("setup_s", "op_p50_s", "op_tail_s", "cycle_s")
SELF_LAYERS = ("bench", "queries", "session", "sources", "cache", "catalyst",
               "spark", "runner", "bronze", "silver", "expectations",
               "catalog", "gold", "export")
PER_LAYER = (
    "session.start_s", "session.configure_calls", "session.configure_s",
    "sources.load_calls", "sources.load_s",
    "queries.construct_s", "queries.construct_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.execute_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.slot_idle_share", "spark.input_bytes",
    "cache.build_s", "cache.builds", "cache.memo_hit_ratio",
    "cache.persists_released", "cache.release_s",
    "streaming.drain_s",
    "runner.run_s", "runner.overhead_s", "runner.retries", "runner.rerun_s",
    "bronze.stage_s", "bronze.rows", "bronze.jobs",
    "silver.stage_s", "silver.rows", "silver.jobs",
    "expectations.guard_s", "expectations.guard_calls",
    "catalog.append_s", "catalog.appends", "catalog.table_s",
    "catalog.table_calls", "catalog.live_files", "catalog.compact_s",
    "catalog.storage_ratio",
    "gold.register_s", "gold.view_s", "gold.refresh_s", "gold.jobs",
    "export.bytes", "export.files",
    "process.jvm_peak_rss_mb", "process.py_peak_rss_mb",
    "ops.error_rate", "ops.measured", "ops.tail_pct",
    "trace.setup_s", "trace.op_p50_s", "trace.op_tail_s", "trace.cycle_s",
    "trace.bookkeeping_s",
) + tuple(f"self.{layer}_s" for layer in SELF_LAYERS)

UNITS = {"_s": "s", "_ms": "ms", "bytes": "bytes", "_mb": "MB",
         "_ratio": "ratio", "_rate": "ratio", "_share": "ratio",
         "_pct": "percentile"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


@dataclass
class Context:
    """What one run shares between its workload and its report."""

    spark: object
    cores: int
    work: str
    trace: bool
    t0: float
    session_start_s: float = 0.0
    setup_done: float = 0.0
    harness_s: float = 0.0
    tracer: Tracer = field(init=False)
    probe: SparkProbe | None = field(init=False, default=None)
    attempted: int = 0
    failed: int = 0
    measured: set = field(default_factory=set)
    latencies: list = field(default_factory=list)
    cycles: list = field(default_factory=list)
    groups: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)
    bookkeeping_s: float = 0.0
    tail_basis: int = 1
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)
        if self.trace:
            self.probe = SparkProbe(self.spark)

    @contextmanager
    def harness(self):
        """The benchmark's own work (writing inputs, checking outputs).
        During set-up it is timed and left out of ``setup_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            if not self.setup_done:
                self.harness_s += time.perf_counter() - t

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr)

    @contextmanager
    def op(self, op_id: int, name: str):
        """One operation: a root span, and (traced) its job groups read
        back from the status store once it has finished."""
        self.attempted += 1
        self.tracer.op = op_id
        self.groups[op_id] = []
        try:
            with self.tracer.span(f"bench.{name}"):
                yield
        finally:
            self.tracer.op = -1
            self.group(op_id, None)
            if self.trace:
                t = time.perf_counter()
                self.probe.settle()
                for g in self.groups[op_id]:
                    self.stats[g] = self.probe.group_stats(g)
                self.bookkeeping_s += time.perf_counter() - t

    def group(self, op_id: int, part: str | None) -> None:
        """Route the Spark jobs that follow to job group ``op<id>.<part>``."""
        if not self.trace:
            return
        if part is None:
            self.probe.set_group(None)
            return
        g = f"op{op_id}.{part}"
        if g not in self.groups[op_id]:
            self.groups[op_id].append(g)
        self.probe.set_group(g)

    def op_stats(self, ops, part: str | None = None) -> JobStats:
        total = JobStats()
        for op_id in ops:
            for g in self.groups.get(op_id, ()):
                if part is None or g.endswith("." + part):
                    total.add(self.stats[g])
        return total


@contextmanager
def patched(module, attr: str, tracer: Tracer, span: str, after=None):
    """Record every call to ``module.attr`` as ``span`` while in scope."""
    orig = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(span):
            out = orig(*args, **kwargs)
        if after is not None:
            after(out)
        return out

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def tail(values: list[float], basis: int) -> tuple[float, int]:
    """The tail latency and its percentile.

    The percentile is the highest one with at least ten samples above it
    among ``basis`` samples, the fewest a run measures (the maximum when
    ``basis`` is ten or less). Fixing it by the minimum, not by the count a
    run happened to reach, keeps it the same percentile when a faster
    program fits more cycles into the same seconds."""
    pct = 100 if basis <= 10 else int(100 * (basis - 10) / basis)
    xs = sorted(values)
    rank = -(-pct * len(xs) // 100)  # nearest rank
    return xs[max(rank, 1) - 1], pct


# ---------------------------------------------------------------- queries


def query_floor(ctx: Context, seed: int, seconds: float,
                roster=rosters.QUERY_FLOOR) -> None:
    from certified_dogs_and_cats_spark import cache
    from certified_dogs_and_cats_spark.queries import ORACLE, QUERIES
    from certified_dogs_and_cats_spark.queries import common
    from certified_dogs_and_cats_spark.queries import streaming as qstream
    from certified_dogs_and_cats_spark.queries.roster import EXCLUDED, STREAM
    from certified_dogs_and_cats_spark.sources.testdata import TESTDATA_TABLES

    data = QUERY_DATA
    with ctx.harness():  # the oracle side of the checks
        import duckdb
        import pyarrow.parquet as pq

        from scripts.check_correctness import normalize

        con = duckdb.connect()
        table_rows = {}
        for name in TESTDATA_TABLES:
            path = os.path.join(data, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            table_rows[name] = pq.read_metadata(path).num_rows
    ctx.info.update(sf=QUERY_SF, roster=len(roster), table_rows=table_rows)
    expected: dict[str, tuple] = {}
    drains = {n for n, why in EXCLUDED.items() if why == STREAM}
    order = list(roster)
    random.Random(seed).shuffle(order)
    tr = ctx.tracer
    build_s = sum(cache.BUILD_SECONDS.values())

    def memo_done(_):
        # A call that built something added to BUILD_SECONDS; a hit did not.
        nonlocal build_s
        now = sum(cache.BUILD_SECONDS.values())
        if now != build_s:
            tr.count("cache.builds")
            tr.count("cache.build_s", now - build_s)
            build_s = now
        else:
            tr.count("cache.hits")

    def one(op_id: int, name: str) -> float | None:
        with ctx.op(op_id, name):
            try:
                t = time.perf_counter()
                ctx.group(op_id, "construct")
                with tr.span("queries.construct"):
                    df = QUERIES[name](ctx.spark, data)
                ctx.group(op_id, "execute")
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.execute"):
                    rows = df.collect()
                with tr.span("cache.release"):
                    tr.count("cache.persists_released", cache.release_cached())
                    ctx.spark.catalog.clearCache()
                latency = time.perf_counter() - t
                cols = df.columns
                if ctx.trace:
                    for phase, ms in catalyst_ms(df).items():
                        tr.count(f"catalyst.{phase}_ms", ms)
                    if name in drains:
                        tr.count("streaming.drains")
            except Exception:  # noqa: BLE001 — a failed op, reported
                ctx.fail(name, traceback.format_exc())
                return None
        try:
            with ctx.harness():
                if name not in expected:
                    rel = con.sql(ORACLE[name])
                    expected[name] = normalize(rel.fetchall(),
                                               list(rel.columns))
                ok = normalize([tuple(r) for r in rows], cols) == expected[name]
        except Exception:  # noqa: BLE001 — a failed check, reported
            ctx.fail(name, traceback.format_exc())
            return None
        if not ok:
            ctx.fail(name, "result differs from the DuckDB oracle")
            return None
        return latency

    with ExitStack() as stack:
        # Streaming drains write their checkpoints under this run's
        # directory, like every other scratch file of the run.
        stack.callback(setattr, qstream, "_CK_ROOT", qstream._CK_ROOT)
        qstream._CK_ROOT = ctx.work
        if ctx.trace:
            for mod in (common, qstream):
                stack.enter_context(patched(mod, "configure_for_queries", tr,
                                            "session.configure"))
            stack.enter_context(patched(common, "load_table", tr,
                                        "sources.load"))
            stack.enter_context(patched(cache, "memoized_build", tr,
                                        "cache.memo", memo_done))
        op_id = 0
        for _ in range(WARMUP_PASSES):  # JIT, codegen, memo builds
            for name in order:
                one(op_id, name)
                op_id += 1
        ctx.setup_done = end = time.perf_counter()
        ctx.tail_basis = MIN_PASSES * len(order)
        while len(ctx.cycles) < MIN_PASSES or end - ctx.setup_done < seconds:
            cycle = 0.0
            for name in order:
                latency = one(op_id, name)
                ctx.measured.add(op_id)
                if latency is not None:
                    ctx.latencies.append(latency)
                    cycle += latency
                op_id += 1
            ctx.cycles.append(cycle)
            end = time.perf_counter()
        ctx.info["passes"] = len(ctx.cycles)
    if ctx.trace:
        query_layers(ctx, drains)


def query_layers(ctx: Context, drains: set) -> None:
    tr, m = ctx.tracer, ctx.measured
    n = max(len(m), 1)
    counts = per_op_counts(tr, m)
    built = per_op_counts(tr, {op for op, _ in tr.counts})
    construct = ctx.op_stats(m, "construct")
    drain_ops = counts.get("streaming.drains", 0.0)
    memo_calls = counts.get("cache.builds", 0) + counts.get("cache.hits", 0)
    ctx.layer.update({
        "session.configure_calls": span_count(tr, m, "session.configure") / n,
        "session.configure_s": tr.durations(m, "session.configure") / n,
        "sources.load_calls": span_count(tr, m, "sources.load") / n,
        "sources.load_s": tr.durations(m, "sources.load") / n,
        "queries.construct_s":
            (tr.durations(m, "queries.construct") - construct.wall_s) / n,
        "queries.construct_jobs": construct.jobs / n,
        "cache.build_s": built.get("cache.build_s", 0.0),
        "cache.builds": built.get("cache.builds", 0.0),
        "cache.memo_hit_ratio":
            counts.get("cache.hits", 0) / memo_calls if memo_calls else 0.0,
        "cache.persists_released":
            counts.get("cache.persists_released", 0) / n,
        "cache.release_s": tr.durations(m, "cache.release") / n,
        "streaming.drain_s": tr.durations(
            {op for op in m if tr.counts.get((op, "streaming.drains"))},
            "queries.construct") / drain_ops if drain_ops else 0.0,
    })
    for phase in ("analysis", "optimization", "planning"):
        ctx.layer[f"catalyst.{phase}_ms"] = (
            counts.get(f"catalyst.{phase}_ms", 0.0) / n)
    spark_layer(ctx, ctx.op_stats(m), n)


# --------------------------------------------------------------- pipeline


def daily_pipeline(ctx: Context, seed: int, seconds: float,
                   rows_per_day: int = DROP_ROWS) -> None:
    # ``seconds`` does not set the day count: see PIPELINE_DAYS.
    from certified_dogs_and_cats_spark.pipeline import (
        Catalog,
        build_daily_pipeline,
    )
    from certified_dogs_and_cats_spark.pipeline import analytics, export
    from certified_dogs_and_cats_spark.pipeline import ingest, refine

    tr = ctx.tracer
    raw_root = os.path.join(ctx.work, "raw", "licensed_pets")
    warehouse = os.path.join(ctx.work, "warehouse")
    export_root = os.path.join(ctx.work, "exports")
    catalog = Catalog(ctx.spark, warehouse)
    if ctx.trace:
        for name, fn in inspect.getmembers(Catalog, inspect.isfunction):
            if not name.startswith("_"):
                setattr(catalog, name,
                        tr.wrap(f"catalog.{name}", getattr(catalog, name)))
    days = pets.generate(seed, rows_per_day)
    loaded: list[pets.Day] = []
    raw_bytes = n_views = 0
    stage_span = {"fetch": "runner.fetch", "bronze": "bronze.stage",
                  "silver": "silver.stage", "gold": "gold.register"}

    def runner(op_id: int):
        r = build_daily_pipeline(catalog, raw_root, clock=CLOCK)
        if ctx.trace:
            for stage in r.stages:
                stage.fn = stage_fn(op_id, stage.name, stage.fn)
        return r

    def stage_fn(op_id: int, name: str, fn):
        def traced(**kwargs):
            ctx.group(op_id, name)
            try:
                with tr.span(stage_span[name]):
                    return fn(**kwargs)
            finally:
                ctx.group(op_id, "runner")
        return traced

    def check_runs(what: str, runs, want: dict) -> bool:
        got = {k: (v.state, v.result.status if v.result else None,
                   v.result.rows if v.result else None)
               for k, v in runs.items()}
        if got != want:
            ctx.fail(what, f"stage outcomes {got}, expected {want}")
            return False
        return True

    def check_export(what: str, day: pets.Day) -> bool:
        out = os.path.join(export_root, "v_totals_by_year_type",
                           f"export_date={day.ingestion_date.isoformat()}")
        got = []
        for path in sorted(glob.glob(os.path.join(out, "*.csv"))):
            with open(path, newline="") as f:
                for r in csv.DictReader(f):
                    got.append((int(r["Year"]), r["ANIMAL_TYPE"],
                                int(r["cnt"]), float(r["share_pct"]),
                                int(r["rnk"])))
        return check_totals(what, sorted(got), day)

    def check_totals(what: str, got: list, day: pets.Day) -> bool:
        want = pets.expected_totals_by_year_type(day)
        same = len(got) == len(want) and all(
            g[:3] == w[:3] and g[4] == w[4] and abs(g[3] - w[3]) <= 0.0051
            for g, w in zip(got, want))
        if not same:
            ctx.fail(what, f"totals {got[:4]}..., expected {want[:4]}...")
        return same

    def one_day(op_id: int) -> tuple[float, float] | None:
        nonlocal raw_bytes, n_views
        with ctx.harness():
            day = next(days)
            raw_bytes += pets.write_drop(raw_root, day)
        loaded.append(day)
        what = f"day {day.ingestion_date}"
        with ctx.op(op_id, "day"):
            try:
                t = time.perf_counter()
                ctx.group(op_id, "runner")
                with tr.span("runner.run"):
                    runs = runner(op_id).run(ingestion_date=day.ingestion_date)
                t_load = time.perf_counter()
                ctx.group(op_id, "refresh")
                with tr.span("gold.refresh"):
                    views = analytics.build_views(catalog)
                    export.export_all(views, export_root, day.ingestion_date)
                t_done = time.perf_counter()
                n_views = len(views)
            except Exception:  # noqa: BLE001 — a failed op, reported
                ctx.fail(what, traceback.format_exc())
                return None
            if ctx.trace:
                for name in ("bronze", "silver"):
                    if runs[name].result is not None:
                        tr.count(f"{name}.rows", runs[name].result.rows)
                tr.count("runner.retries",
                         sum(max(r.attempts - 1, 0) for r in runs.values()))
                written = glob.glob(os.path.join(
                    export_root, "*", f"export_date={day.ingestion_date}",
                    "*"))
                tr.count("export.files", len(written))
                tr.count("export.bytes",
                         sum(os.path.getsize(f) for f in written))
        n = day.new_rows
        with ctx.harness():
            ok = check_runs(what, runs, {
                "fetch": ("succeeded", "done", 0),
                "bronze": ("succeeded", "loaded", n),
                "silver": ("succeeded", "loaded", n),
                "gold": ("succeeded", "done", n_views),
            }) and check_export(what, day)
        return (t_load - t, t_done - t) if ok else None

    def maintenance(op_id: int) -> tuple[int, int]:
        """The runbook's OPTIMIZE of Bronze and Silver, then a re-run of an
        already-loaded date, which must skip without writing. Only traced
        runs do it: what it measures is per-layer, and leaving it out keeps
        untraced runs inside the benchmark's time budget."""
        with ctx.op(op_id, "compact"):
            try:
                catalog.compact("core.licensed_pets_bronze")
                catalog.compact("core.licensed_pets_silver")
            except Exception:  # noqa: BLE001 — a failed op, reported
                ctx.fail("compact", traceback.format_exc())
        with ctx.op(op_id + 1, "rerun"):
            try:
                with tr.span("runner.run"):
                    runs = runner(op_id + 1).run(
                        ingestion_date=loaded[0].ingestion_date)
            except Exception:  # noqa: BLE001 — a failed op, reported
                ctx.fail("rerun", traceback.format_exc())
                runs = None
        if runs is not None:
            check_runs("rerun", runs, {
                "fetch": ("succeeded", "done", 0),
                "bronze": ("succeeded", "skipped_already_loaded", 0),
                "silver": ("succeeded", "skipped_no_new_rows", 0),
                "gold": ("succeeded", "done", n_views),
            })
        # The compacted tables still hold exactly the loaded rows.
        ctx.attempted += 1
        try:
            got = sorted(tuple(r) for r in ctx.spark.table(
                "pets_gold_v_totals_by_year_type").collect())
        except Exception:  # noqa: BLE001 — a failed check, reported
            ctx.fail("totals after compaction", traceback.format_exc())
        else:
            check_totals("totals after compaction", got, loaded[-1])
        return op_id, op_id + 1

    with ExitStack() as stack:
        if ctx.trace:
            for mod in (ingest, refine):
                stack.enter_context(patched(mod, "run_guards", tr,
                                            "expectations.guard"))
            stack.enter_context(patched(export, "export_view_csv", tr,
                                        "export.view"))
        op_id = 0
        one_day(op_id)  # warm-up day
        op_id += 1
        ctx.setup_done = time.perf_counter()
        ctx.tail_basis = PIPELINE_DAYS
        for _ in range(PIPELINE_DAYS):
            out = one_day(op_id)
            ctx.measured.add(op_id)
            op_id += 1
            if out is not None:
                ctx.latencies.append(out[0])
                ctx.cycles.append(out[1])
        if ctx.trace:
            live = sum(len(catalog.file_stats(t)) for t in (
                "core.licensed_pets_bronze", "core.licensed_pets_silver"))
            compact_op, rerun_op = maintenance(op_id)
    wh_bytes = dir_bytes(warehouse)
    ctx.info.update(rows_per_day=rows_per_day, days=len(loaded),
                    raw_bytes=raw_bytes, warehouse_bytes=wh_bytes)
    if ctx.trace:
        pipeline_layers(ctx, live, compact_op, rerun_op)
        ctx.layer["catalog.storage_ratio"] = wh_bytes / raw_bytes


def pipeline_layers(ctx: Context, live: int, compact_op: int,
                    rerun_op: int) -> None:
    tr, m = ctx.tracer, ctx.measured
    n = max(len(m), 1)
    counts = per_op_counts(tr, m)
    stages = sum(tr.durations(m, s) for s in ("runner.fetch", "bronze.stage",
                                              "silver.stage", "gold.register"))
    ctx.layer.update({
        "runner.run_s": tr.durations(m, "runner.run") / n,
        "runner.overhead_s": (tr.durations(m, "runner.run") - stages) / n,
        "runner.retries": counts.get("runner.retries", 0.0) / n,
        "runner.rerun_s": tr.durations({rerun_op}, "runner.run"),
        "expectations.guard_s": tr.durations(m, "expectations.guard") / n,
        "expectations.guard_calls":
            span_count(tr, m, "expectations.guard") / n,
        "catalog.append_s": tr.durations(m, "catalog.append") / n,
        "catalog.appends": span_count(tr, m, "catalog.append") / n,
        "catalog.table_s": tr.durations(m, "catalog.table") / n,
        "catalog.table_calls": span_count(tr, m, "catalog.table") / n,
        "catalog.live_files": live,
        "catalog.compact_s": tr.durations({compact_op}, "catalog.compact"),
        "gold.register_s": tr.durations(m, "gold.register") / n,
        "gold.view_s": tr.durations(m, "export.view") / n,
        "gold.refresh_s": tr.durations(m, "gold.refresh") / n,
        "gold.jobs": ctx.op_stats(m, "refresh").jobs / n,
        "export.bytes": counts.get("export.bytes", 0.0) / n,
        "export.files": counts.get("export.files", 0.0) / n,
    })
    for name in ("bronze", "silver"):
        ctx.layer[f"{name}.stage_s"] = tr.durations(m, f"{name}.stage") / n
        ctx.layer[f"{name}.rows"] = counts.get(f"{name}.rows", 0.0) / n
        ctx.layer[f"{name}.jobs"] = ctx.op_stats(m, name).jobs / n
    spark_layer(ctx, ctx.op_stats(m), n)


# ----------------------------------------------------------------- common


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def span_count(tr: Tracer, ops: set, name: str) -> int:
    return sum(1 for s in tr.spans if s.name == name and s.op in ops)


def per_op_counts(tr: Tracer, ops: set) -> dict[str, float]:
    out: dict[str, float] = {}
    for (op, name), v in tr.counts.items():
        if op in ops:
            out[name] = out.get(name, 0.0) + v
    return out


def spark_layer(ctx: Context, st: JobStats, n: int) -> None:
    busy = st.wall_s * ctx.cores
    ctx.layer.update({
        "spark.jobs": st.jobs / n,
        "spark.stages": st.stages / n,
        "spark.tasks": st.tasks / n,
        "spark.execute_s": st.wall_s / n,
        "spark.executor_run_s": st.executor_run_s / n,
        "spark.executor_cpu_s": st.executor_cpu_s / n,
        "spark.gc_s": st.gc_s / n,
        "spark.shuffle_write_bytes": st.shuffle_write_bytes / n,
        "spark.shuffle_read_bytes": st.shuffle_read_bytes / n,
        "spark.spill_bytes": st.spill_bytes / n,
        "spark.input_bytes": st.input_bytes / n,
        "spark.slot_idle_share": 1 - st.executor_run_s / busy if busy else 0.0,
    })


WORKLOADS = {"query_floor": query_floor, "daily_pipeline": daily_pipeline}


def report(ctx: Context) -> dict:
    """The run's metrics: end-to-end ones untraced, per-layer ones traced."""
    p50 = statistics.median(ctx.latencies) if ctx.latencies else 0.0
    tail_s, tail_pct = (tail(ctx.latencies, ctx.tail_basis)
                        if ctx.latencies else (0.0, 0))
    e2e = {
        "setup_s": ctx.setup_done - ctx.t0 - ctx.harness_s,
        "op_p50_s": p50,
        "op_tail_s": tail_s,
        "cycle_s": statistics.median(ctx.cycles) if ctx.cycles else 0.0,
    }
    if not ctx.trace:
        return e2e
    m = ctx.measured
    n = max(len(m), 1)
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update(ctx.layer)
    layer.update({f"trace.{k}": v for k, v in e2e.items()})
    selfs = ctx.tracer.self_times(m)
    layer.update({f"self.{k}_s": selfs.get(k, 0.0) / n for k in SELF_LAYERS})
    layer.update({
        "session.start_s": ctx.session_start_s,
        "ops.error_rate": ctx.failed / max(ctx.attempted, 1),
        "ops.measured": len(m),
        "ops.tail_pct": tail_pct,
        "trace.bookkeeping_s": ctx.bookkeeping_s / max(len(ctx.groups), 1),
        "process.py_peak_rss_mb":
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "process.jvm_peak_rss_mb": jvm_peak_rss_mb(ctx.spark),
    })
    return layer


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
