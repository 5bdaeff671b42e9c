#!/usr/bin/env python3
"""The repository benchmark: named workloads against the engine's public
entry points, with correctness checks and an optional per-layer trace.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics, each beside the
end-to-end metric it should move, and the tracing overhead. The last
stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import statistics
import sys
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CPUS = len(os.sched_getaffinity(0))
TAIL_PCT = 75

# One query per engine family, from the 27 bench-tagged queries. An odd
# count puts the median inside one query's latencies, not between two.
MIX = (
    "q1_pricing_summary",  # plans.relational: scan + aggregate
    "q6_revenue_delta",  # plans.relational: filter + aggregate
    "q9_product_profit",  # plans.extra: 5-way join
    "q_topk_per_group",  # plans.windows
    "events_sessionize",  # plans.events: window over the event stream
    "dedup_exact",  # operators.dedup
    "text_token_stats",  # operators.text: tokenize + explode
    "sim_ivf_topk",  # operators.similarity: Arrow vector kernel
    "ts_mad_outliers",  # operators.timeseries: two eager pins in plan build
)
INGEST_LEVELS = 3  # source sizes (see httpsrc.make_sources)
INGEST_ROWS = (1_000, 10_000)

# Per-layer metric -> (unit, module, end-to-end metric it should move,
# workloads it moves on).
LAYERS = {
    "session.start_s": ("s", "session", "setup_s", "all"),
    "config.load_s": ("s", "config", "setup_s", "http_ingest"),
    "tables.load_s": ("s", "plans.tables", "op_p50_s", "queries_concurrent4"),
    "plan.build_s": ("s", "plans.registry + operators (build)", "op_p50_s, ops_per_s", "queries_concurrent4"),
    "plan.build_jobs": ("count", "plans.registry + operators (build)", "op_p50_s, ops_per_s", "queries_concurrent4"),
    "plan.build_share": ("ratio", "plans.registry + operators (build)", "op_p50_s, ops_per_s", "queries_concurrent4"),
    "pin.count": ("count", "functions.pinning", "mem.peak_rss_mb", "queries_concurrent4"),
    "pin.materialize_s": ("s", "functions.pinning", "op_p50_s", "queries_concurrent4"),
    "pin.release_s": ("s", "functions.pinning", "op_p50_s", "queries_concurrent4"),
    "pin.storage_bytes_peak": ("bytes", "functions.pinning", "mem.peak_rss_mb", "queries_concurrent4"),
    "pin.storage_bytes": ("bytes", "functions.pinning", "mem.peak_rss_mb", "queries_concurrent4"),
    "exec.run_s": ("s", "operators.* (execution)", "op_p50_s", "all"),
    "exec.jobs": ("count", "operators.* (execution)", "op_p50_s", "all"),
    "exec.stages": ("count", "operators.* (execution)", "op_p50_s", "all"),
    "exec.tasks": ("count", "operators.* (execution)", "op_p50_s, ops_per_s", "all"),
    "exec.single_task_stages": ("count", "operators.* (execution)", "op_p50_s", "all"),
    "exec.task_skew": ("ratio", "operators.* (execution)", "op_p50_s", "all"),
    "exec.executor_cpu_s": ("s", "operators.* (execution)", "ops_per_s", "queries_concurrent4"),
    "exec.shuffle_read_bytes": ("bytes", "operators.* (execution)", "op_p50_s", "queries_concurrent4"),
    "exec.shuffle_write_bytes": ("bytes", "operators.* (execution)", "op_p50_s", "queries_concurrent4"),
    "exec.spill_bytes": ("bytes", "operators.* (execution)", "op_p50_s", "queries_concurrent4"),
    "exec.failed_tasks": ("count", "operators.* (execution)", "op_p50_s", "all"),
    "ingest.fetch_s": ("s", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.requests": ("count", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.retries": ("count", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.retry_wait_s": ("s", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.bytes": ("bytes", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.requests_per_page": ("ratio", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.stage_s": ("s", "sources.http_json", "op_p50_s", "http_ingest"),
    "ingest.cached_bytes": ("bytes", "sources.http_json", "mem.peak_rss_mb", "http_ingest"),
    "ingest.rows_per_s": ("1/s", "sources.*", "ops_per_s", "http_ingest"),
    "ingest.ds_schema_s": ("s", "sources.datasource", "op_p50_s", "http_ingest"),
    "ingest.ds_tasks": ("count", "sources.datasource", "op_p50_s", "http_ingest"),
    "ingest.ds_scan_s": ("s", "sources.datasource", "op_p50_s", "http_ingest"),
    "engine.sql_s": ("s", "engine", "op_p50_s", "http_ingest"),
    "engine.show_s": ("s", "engine", "op_p50_s", "http_ingest"),
    "mem.peak_rss_mb": ("MB", "all (driver + JVM + Python workers)", "-", "all"),
    "host.cpu_steal_share": ("ratio", "host (not the engine)", "all, when high", "all"),
    "trace.overhead_share": ("ratio", "benchmark tracing", "all", "all"),
}
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
}


@dataclass
class Op:
    name: str
    pass_no: int
    seq: int
    start: float = 0.0
    end: float = 0.0
    error: str | None = None
    traced: bool = False
    facts: dict = field(default_factory=dict)  # per-op trace readings

    @property
    def latency(self) -> float:
        return self.end - self.start

    @property
    def id(self) -> str:
        """The op's trace id: its spans and Spark job groups carry it."""
        return f"op{self.seq}-{self.name}"


@dataclass
class Run:
    setup_s: float = 0.0
    session_start_s: float = 0.0
    config_load_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    checks: int = 0
    failures: list[str] = field(default_factory=list)
    rows: int = 0  # ingest: rows served and queried in the timed region
    scale: str = ""


class Harness:
    """What every workload shares: the session, the trace switches and
    the closed-loop driver."""

    def __init__(self, seed: int, seconds: float, trace: bool, workload: str) -> None:
        from tracing import Tracer

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workload = workload
        self.tracer = Tracer()
        self.event_dir = os.path.join(WORK, "eventlog", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.steal = 0.0  # CPU steal share over the timed region
        with open("/proc/loadavg", encoding="ascii") as f:
            self.loadavg = f.read().split()[0]

    def start_session(self, run: Run) -> None:
        from http_datafusion_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("http_datafusion_spark-perfbench", cpus=CPUS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        run.session_start_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, the JVM it launched and the JVM's Python
        workers, and wait for all of them."""
        from pyspark import SparkContext
        from tracing import descendants, wait_gone

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        started = descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        wait_gone(started, timeout=60)

    def job_group(self, op_id: str | None, phase: str) -> None:
        """In a traced run, put the Spark jobs this thread starts next in
        the group of one phase of a traced op (read back from the event
        log), or in the "untraced" group."""
        if self.trace:
            group = f"{op_id}:{phase}" if op_id is not None else "untraced"
            self.spark.sparkContext.setJobGroup(group, phase)

    def closed_loop(self, clients: int, names: list[str],
                    do_op: Callable[[Op, str | None], Callable[[], None] | None],
                    ) -> tuple[list[Op], float]:
        """``clients`` threads, each starting its next op when the last one
        ends. Ops come in whole passes over ``names``, each pass in a new
        seeded order; no new pass starts after ``seconds``. ``do_op`` may
        return a check to run after the op's clock stops.

        In a traced run half of each pass is traced, and each name
        alternates between traced and untraced from pass to pass, so the
        tracing overhead compares every name with itself."""
        from tracing import cpu_counters, steal_share

        rng = random.Random(self.seed)
        parity = {name: i % 2 for i, name in enumerate(names)}
        lock = threading.Lock()
        queue: list[Op] = []
        ops: list[Op] = []
        passes = 0
        cpu0 = cpu_counters()
        t0 = time.perf_counter()

        def take() -> Op | None:
            nonlocal passes
            with lock:
                if not queue:
                    if time.perf_counter() - t0 >= self.seconds:
                        return None
                    order = rng.sample(names, len(names))
                    queue.extend(Op(name, passes, 0) for name in reversed(order))
                    passes += 1
                op = queue.pop()
                op.seq = len(ops)
                ops.append(op)
                return op

        def client() -> None:
            while (op := take()) is not None:
                op.traced = self.trace and (op.pass_no + parity[op.name]) % 2 == 0
                op_id = op.id if op.traced else None
                post = None
                with self.tracer.operation(op_id):
                    op.start = time.perf_counter()
                    try:
                        with self.tracer.span("op"):
                            post = do_op(op, op_id)
                    except Exception as e:  # noqa: BLE001 — a failed op is counted and named
                        op.error = _describe(e)
                    op.end = time.perf_counter()
                    if post is not None:
                        try:
                            post()
                        except Exception as e:  # noqa: BLE001
                            op.error = _describe(e)

        with ThreadPoolExecutor(clients) as ex:
            for f in [ex.submit(client) for _ in range(clients)]:
                f.result()
        self.steal = steal_share(cpu0, cpu_counters())
        return ops, max(op.end for op in ops) - t0


class _ThreadStdout(io.TextIOBase):
    """A ``sys.stdout`` stand-in that sends each thread's writes to that
    thread's capture buffer while it has one, so concurrent
    ``engine.show_all`` calls can each be captured."""

    def __init__(self, real) -> None:
        self.real = real
        self._local = threading.local()

    def write(self, text: str) -> int:
        return getattr(self._local, "buf", self.real).write(text)

    def flush(self) -> None:
        getattr(self._local, "buf", self.real).flush()

    @contextlib.contextmanager
    def capture(self):
        self._local.buf = io.StringIO()
        try:
            yield self._local.buf
        finally:
            del self._local.buf


def _describe(e: Exception) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:200] if lines else ''}"


def _mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def _exec_layers(ops: list[Op], groups: dict) -> dict[str, float]:
    """Execution metrics of the ops' ``exec`` job groups, per op."""
    from tracing import GroupStats

    stats = [groups.get(f"{op.id}:exec", GroupStats()) for op in ops]
    return {
        "exec.jobs": _mean([s.jobs for s in stats]),
        "exec.stages": _mean([s.stages for s in stats]),
        "exec.tasks": _mean([s.tasks for s in stats]),
        "exec.single_task_stages": _mean([s.single_task_stages for s in stats]),
        "exec.task_skew": statistics.median([s.task_skew for s in stats]) if stats else 0.0,
        "exec.executor_cpu_s": _mean([s.cpu_s for s in stats]),
        "exec.shuffle_read_bytes": _mean([s.shuffle_read for s in stats]),
        "exec.shuffle_write_bytes": _mean([s.shuffle_write for s in stats]),
        "exec.spill_bytes": _mean([s.spill for s in stats]),
        "exec.failed_tasks": _mean([s.failed_tasks for s in stats]),
    }


# ---------------------------------------------------------------- queries


def run_queries(h: Harness, clients: int) -> Run:
    """The bench query mix on generated data, ``clients`` closed-loop
    clients on one session. Each op builds the query's plan and writes it
    to the noop sink inside a ``pin_scope``, as bench.py does."""
    import gendata
    from tracing import storage_bytes, wrap_function

    from http_datafusion_spark.functions import pinning
    from http_datafusion_spark.functions.pinning import pin_scope
    from http_datafusion_spark.plans import tables
    from http_datafusion_spark.plans.compare import compare_query
    from http_datafusion_spark.plans.registry import all_queries

    data = gendata.ensure(os.path.join(WORK, "data", "sf0.01"))
    registry = all_queries()
    run = Run(scale="sf0.01")
    if h.trace:
        wrap_function(h.tracer, tables, "load_tables", "tables.load")
        wrap_function(h.tracer, pinning, "pin", "pin")

    def check(name: str) -> str | None:
        try:
            with pin_scope():
                res = compare_query(h.spark, registry[name], data)
            return None if res.ok else f"oracle {name}: {res.detail}"
        except Exception as e:  # noqa: BLE001 — counted and named
            return f"oracle {name}: {_describe(e)}"

    t0 = time.perf_counter()
    h.start_session(run)
    # Warm-up: one execution of every query in the mix, CPUS at a time,
    # through the oracle comparison, which is the run's correctness check.
    with ThreadPoolExecutor(CPUS) as ex:
        problems = list(ex.map(check, MIX))
    run.setup_s = time.perf_counter() - t0
    run.checks = len(MIX)
    run.failures = [p for p in problems if p]
    storage_base = storage_bytes(h.spark) if h.trace else 0

    def do_op(op: Op, op_id: str | None) -> Callable[[], None] | None:
        spec = registry[op.name]
        with pin_scope():
            h.job_group(op_id, "build")
            with h.tracer.span("plan.build"):
                t = time.perf_counter()
                df = spec.spark(h.spark, data)
                op.facts["build_s"] = time.perf_counter() - t
            h.job_group(op_id, "exec")
            with h.tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            if op_id is not None:
                op.facts["storage_peak"] = storage_bytes(h.spark) - storage_base
            t = time.perf_counter()
        op.facts["release_s"] = time.perf_counter() - t
        if op_id is None:
            return None

        def after() -> None:
            op.facts["storage_after"] = storage_bytes(h.spark) - storage_base

        return after

    run.ops, run.wall_s = h.closed_loop(clients, list(MIX), do_op)
    return run


def query_layers(h: Harness, ops: list[Op]) -> dict[str, float]:
    """Per-layer metrics of the traced query ops, per op."""
    from tracing import read_event_log

    groups = read_event_log(h.event_dir)
    self_s = h.tracer.self_times()
    build = [op.facts["build_s"] for op in ops]
    return {
        "tables.load_s": _mean([self_s[op.id]["tables.load"] for op in ops]),
        "plan.build_s": _mean([self_s[op.id]["plan.build"] for op in ops]),
        "plan.build_jobs": _mean([groups[f"{op.id}:build"].jobs if f"{op.id}:build" in groups else 0
                                  for op in ops]),
        "plan.build_share": sum(build) / sum(op.latency for op in ops) if ops else 0.0,
        "pin.count": _mean([sum(1 for s in h.tracer.spans if s.op == op.id and s.name == "pin")
                            for op in ops]),
        "pin.materialize_s": _mean([self_s[op.id]["pin"] for op in ops]),
        "pin.release_s": _mean([op.facts["release_s"] for op in ops]),
        "pin.storage_bytes_peak": max([op.facts["storage_peak"] for op in ops], default=0),
        "pin.storage_bytes": max([op.facts["storage_after"] for op in ops], default=0),
        "exec.run_s": _mean([self_s[op.id]["exec"] for op in ops]),
        **_exec_layers(ops, groups),
    }


# ----------------------------------------------------------------- ingest


def run_ingest(h: Harness) -> Run:
    """The product path: config.yaml -> paginated HTTP -> register -> SQL
    -> show, against an in-process server. Sources take the driver-side
    path or the parallel ``httpjson`` reader (``httpsrc.make_sources``)."""
    import httpsrc
    import yaml
    from pyspark.sql.readwriter import DataFrameReader
    from tracing import storage_bytes, wrap_function

    from http_datafusion_spark import engine
    from http_datafusion_spark.config import load_config
    from http_datafusion_spark.sources import http_json

    sources = httpsrc.make_sources(h.seed, INGEST_LEVELS, *INGEST_ROWS)
    by_name = {s.name: s for s in sources}
    expected = {s.name: s.expected() for s in sources}
    run = Run(scale=f"{INGEST_ROWS[0]}-{INGEST_ROWS[1]} rows per source")
    if h.trace:
        wrap_function(h.tracer, http_json, "fetch_rows", "ingest.fetch")
        wrap_function(h.tracer, http_json, "json_rows_to_df", "ingest.stage")
        wrap_function(h.tracer, DataFrameReader, "load", "ingest.ds_schema")

    stdout = _ThreadStdout(sys.stdout)
    with httpsrc.PageServer(sources, CPUS) as server, contextlib.redirect_stdout(stdout):
        path = os.path.join(WORK, "tmp", f"config-{h.seed}-{os.getpid()}.yaml")
        with open(path, "w", encoding="utf-8") as f:
            yaml.safe_dump({"sources": [s.config(server.base_url) for s in sources]}, f)

        t0 = time.perf_counter()
        h.start_session(run)
        if h.trace:
            wrap_function(h.tracer, h.spark, "sql", "engine.sql")
        t = time.perf_counter()
        config = {s.name: s for s in load_config(path).sources}
        run.config_load_s = time.perf_counter() - t

        def ingest(name: str, op_id: str | None) -> Callable[[], None]:
            """Run one source as the engine's config runner does, with its
            printed grid captured; returns the check of that grid."""
            src = by_name[name]
            h.job_group(op_id, "source")
            res = engine.run_source(h.spark, config[name], via_datasource=src.via_datasource)
            span = "ingest.ds_scan" if src.via_datasource else "engine.show"
            h.job_group(op_id, "exec")
            with h.tracer.span(span), stdout.capture() as out:
                engine.show_all(res.result)

            def check() -> None:
                problem = src.check(_parse_grid(out.getvalue()), expected[name])
                if problem:
                    raise AssertionError(f"{name}: {problem}")

            return check

        def check(name: str) -> str | None:
            try:
                ingest(name, None)()
                return None
            except Exception as e:  # noqa: BLE001 — counted and named
                return f"source {name}: {_describe(e)}"

        # Warm-up: every source once, CPUS at a time, so that every timed
        # pass runs warm. Every op's answer is checked, here and when timed.
        with ThreadPoolExecutor(CPUS) as ex:
            problems = list(ex.map(check, sorted(by_name)))
        run.setup_s = time.perf_counter() - t0
        run.checks = len(sources)
        run.failures = [p for p in problems if p]
        cached_base = storage_bytes(h.spark) if h.trace else 0

        def do_op(op: Op, op_id: str | None) -> Callable[[], None]:
            src = by_name[op.name]
            before = server.stats.snapshot()
            check = ingest(op.name, op_id)

            def after() -> None:
                stats = server.stats.snapshot()
                op.facts.update({"ds": src.via_datasource, "rows": expected[op.name][0],
                                 **{k: stats[k] - before[k] for k in stats}})
                if op_id is not None:
                    op.facts["cached"] = storage_bytes(h.spark) - cached_base
                check()

            return after

        run.ops, run.wall_s = h.closed_loop(1, sorted(by_name), do_op)
    run.rows = sum(op.facts["rows"] for op in run.ops if op.error is None)
    return run


def ingest_layers(h: Harness, ops: list[Op]) -> dict[str, float]:
    """Per-layer metrics of the traced ingest ops, per op (per op of the
    path, for path-specific layers)."""
    from tracing import GroupStats, read_event_log

    groups = read_event_log(h.event_dir)
    self_s = h.tracer.self_times()
    drv = [op for op in ops if not op.facts["ds"]]
    ds = [op for op in ops if op.facts["ds"]]

    def per_op(subset: list[Op], span: str) -> float:
        return _mean([self_s[op.id][span] for op in subset])

    return {
        "ingest.fetch_s": per_op(drv, "ingest.fetch"),
        "ingest.requests": _mean([op.facts["requests"] for op in ops]),
        "ingest.retries": _mean([op.facts["retries"] for op in ops]),
        "ingest.retry_wait_s": _mean([op.facts["retry_wait_s"] for op in ops]),
        "ingest.bytes": _mean([op.facts["bytes"] for op in ops]),
        "ingest.requests_per_page": (sum(op.facts["requests"] for op in ops)
                                     / max(1, sum(op.facts["pages"] for op in ops))),
        "ingest.stage_s": per_op(drv, "ingest.stage"),
        "ingest.cached_bytes": max([op.facts["cached"] for op in ops], default=0),
        "ingest.ds_schema_s": per_op(ds, "ingest.ds_schema"),
        "ingest.ds_tasks": _mean([groups.get(f"{op.id}:exec", GroupStats()).tasks for op in ds]),
        "ingest.ds_scan_s": per_op(ds, "ingest.ds_scan"),
        "engine.sql_s": per_op(ops, "engine.sql"),
        "engine.show_s": per_op(drv, "engine.show"),
        "exec.run_s": _mean([self_s[op.id]["engine.show"] + self_s[op.id]["ingest.ds_scan"]
                             for op in ops]),
        **_exec_layers(ops, groups),
    }


def _parse_grid(text: str) -> list[dict]:
    """Rows of the grid ``engine.show_all`` prints, values parsed back to
    int / float / str."""
    lines = [ln for ln in text.splitlines() if ln.startswith("|")]
    if not lines:
        return []

    def cells(ln: str) -> list[str]:
        return [c.strip() for c in ln.strip("|").split("|")]

    def value(c: str):
        for cast in (int, float):
            try:
                return cast(c)
            except ValueError:
                pass
        return c

    header = cells(lines[0])
    return [dict(zip(header, map(value, cells(ln)))) for ln in lines[1:]]


# ----------------------------------------------------------------- report


def _percentile(values: list[float], pct: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def report(h: Harness, run: Run, peak_rss_kb: int, layers: dict[str, float]) -> dict:
    ok_ops = [op for op in run.ops if op.error is None]
    failed = [op for op in run.ops if op.error is not None]
    attempted = len(run.ops) + run.checks
    n_failed = len(failed) + len(run.failures)
    for msg in run.failures + [f"op {op.name}: {op.error}" for op in failed]:
        print(f"# FAILED {msg}")
    print(f"# workload={h.workload} seed={h.seed} cores={CPUS} scale={run.scale} ops={len(run.ops)} "
          f"checks={run.checks} failed_share={n_failed / attempted:.4f} "
          f"loadavg_at_start={h.loadavg} cpu_steal_timed={h.steal:.3f}")

    if not h.trace:
        lat = [op.latency for op in ok_ops]
        metrics = {
            "setup_s": run.setup_s,
            "ops_per_s": len(ok_ops) / run.wall_s,
            "op_p50_s": statistics.median(lat),
        }
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        tail = _percentile(lat, TAIL_PCT)
        print(f"# {len(lat)} op samples; p{TAIL_PCT} {tail:.4f} s with "
              f"{sum(x > tail for x in lat)} samples beyond it (printed, not gated)")
        for name in sorted({op.name for op in ok_ops}):
            own = [op.latency for op in ok_ops if op.name == name]
            print(f"#   {name:<24} n={len(own):<3} median {statistics.median(own):.4f} s")
        print(f"# peak RSS (driver + JVM + Python workers) {peak_rss_kb / 1024:.1f} MB")
        for k, v in out.items():
            print(f"# {k:<14} {v['value']:>14.4f} {v['unit']}")
    else:
        traced = [op for op in ok_ops if op.traced]
        ratios = []
        for name in {op.name for op in traced}:
            on = [op.latency for op in traced if op.name == name]
            off = [op.latency for op in ok_ops if op.name == name and not op.traced]
            if off:
                ratios.append(statistics.fmean(on) / statistics.fmean(off))
        layer = dict.fromkeys(LAYERS, 0.0)
        layer.update(layers)
        layer["session.start_s"] = run.session_start_s
        layer["config.load_s"] = run.config_load_s
        layer["mem.peak_rss_mb"] = peak_rss_kb / 1024
        layer["host.cpu_steal_share"] = h.steal
        if run.rows:
            layer["ingest.rows_per_s"] = run.rows / run.wall_s
        if ratios:
            layer["trace.overhead_share"] = statistics.median(ratios) - 1
        out = {k: {"value": v, "unit": LAYERS[k][0]} for k, v in layer.items()}
        print(f"# traced ops={len(traced)} of {len(ok_ops)}; trace.overhead_share = median over "
              f"{len(ratios)} names of (mean traced / mean untraced latency) - 1")
        print(f"# {'metric':<24} {'value':>14} {'unit':<6} {'module':<36} moves / on")
        for k, (unit, module, moves, where) in LAYERS.items():
            print(f"# {k:<24} {layer[k]:>14.4f} {unit:<6} {module:<36} {moves} / {where}")
        h.tracer.write(os.path.join(WORK, "spans", f"{h.workload}-{h.seed}-{os.getpid()}.jsonl"))
    return {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed, "metrics": out}


# name -> (run the workload, per-layer metrics of its traced ops)
WORKLOADS = {
    "queries_concurrent4": (lambda h: run_queries(h, 4), query_layers),
    "http_ingest": (run_ingest, ingest_layers),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The engine must be importable here and in Spark's Python workers,
    # whatever the working directory.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import http_datafusion_spark  # noqa: F401 — fail fast when the engine is absent

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # spark-submit's launcher JVM would write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from tracing import RssSampler

    h = Harness(args.seed, args.seconds, bool(args.trace), args.workload)
    run_workload, layer_metrics = WORKLOADS[args.workload]
    with RssSampler() as rss:
        try:
            run = run_workload(h)
        finally:
            h.stop()
    # The event log is complete once the session has stopped.
    traced = [op for op in run.ops if op.traced and op.error is None]
    layers = layer_metrics(h, traced) if h.trace else {}
    result = report(h, run, rss.peak_kb, layers)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
