"""Per-layer tracing from outside the program (``--trace 1`` only).

Spans come from wrapping the public functions each layer exports and
from what Spark itself records: job ids attributed to each op by id
range (one job group per op labels them), stage metrics read from the
application status store through py4j, Catalyst phase times from a
``QueryExecutionListener`` and streaming progress from
``StreamingQuery.recentProgress``. The program is not changed; every
wrapper is removed again by :meth:`Tracer.close`.

Values accumulate per op kind while :attr:`Tracer.active` is set, so
the summary is "per op" and the op-kind table answers where each kind
spends its time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import time
from collections import defaultdict

# Metric name -> unit, in the order BENCHMARK.json lists them. Values
# are per workload op (the op ``op_p50_s`` times: a mart read, a
# refresh, an ingest), summed over every op kind of the timed phase,
# except the GAUGES below, which are read once at its end.
METRICS = {
    "entry.build_s": "s",
    "entry.build_jobs": "count",
    "entry.memo_misses": "count",
    "entry.memo_entries": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",
    "operators.build_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.gate_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.count_s": "s",
    "io.bytes_written": "bytes",
    "stream.start_s": "s",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.input_rows": "count",
    "txn.commit_s": "s",
    "txn.read_s": "s",
    "txn.read_pruned_s": "s",
    "txn.optimize_s": "s",
    "txn.vacuum_s": "s",
    "txn.versions": "count",
    "txn.live_files": "count",
    "txn.manifest_bytes": "bytes",
    "txn.data_bytes": "bytes",
    "txn.orphans": "count",
    "txn.prune_kept_frac": "ratio",
    "txn.stored_bytes_per_input_byte": "ratio",
    "proc.jvm_heap_mb": "MB",
    "proc.jvm_gc_s": "s",
    "proc.py_rss_mb": "MB",
    "host.steal_pct": "%",
    "host.loadavg1": "load",
    "trace.op_p50_s": "s",
}

# Metrics that are a state or gauge, reported as read, not per op.
GAUGES = {
    "entry.memo_entries", "exec.busy_frac", "txn.read_s", "txn.read_pruned_s",
    "txn.versions", "txn.live_files", "txn.manifest_bytes", "txn.data_bytes",
    "txn.orphans", "txn.prune_kept_frac", "txn.stored_bytes_per_input_byte",
    "proc.jvm_heap_mb", "proc.jvm_gc_s", "proc.py_rss_mb",
    "host.steal_pct", "host.loadavg1", "trace.op_p50_s",
}


def memo_dicts() -> list[dict]:
    """Every module-level memo the program keeps: the ``*_MEMO`` and
    ``*_CACHE`` dicts of ``__spark_entry__`` and ``sources.io``."""
    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.sources import io

    return [
        v
        for mod in (entry, io)
        for k, v in vars(mod).items()
        if isinstance(v, dict) and (k.endswith("_MEMO") or k.endswith("_CACHE"))
    ]


def memo_entries(app_id: str) -> int:
    """Memo entries keyed to application ``app_id``."""
    return sum(
        1 for d in memo_dicts() for key in list(d)
        if isinstance(key, tuple) and key and key[0] == app_id
    )


class _PhaseListener:
    """py4j implementation of ``QueryExecutionListener``: Catalyst
    phase times of every query execution that completes."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.tracer.add_phases(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.tracer.add_phases(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Accumulates per-layer metrics for one Spark application."""

    def __init__(self, spark, cores: int):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.app_id = self.sc.applicationId
        self.active = False
        self.kind = "setup"
        self.ops: dict[str, int] = defaultdict(int)
        self.values: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.gauges: dict[str, float] = {}
        self._wrapped: list[tuple[object, str, object]] = []
        self._next_job = self._first_unseen_job(0)
        self._groups = itertools.count()
        self._store = self.sc._jsc.sc().statusStore()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener(self)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    # -- accumulation ---------------------------------------------------
    def add(self, name: str, value: float) -> None:
        if self.active:
            self.values[self.kind][name] += value

    def begin_op(self, kind: str) -> None:
        """Start an op of ``kind``: the jobs the previous op left
        unattributed (those it ran outside :meth:`exec_span`) are
        counted to it first."""
        self.flush_jobs()
        self.kind = kind
        if self.active:
            self.ops[kind] += 1
        self.sc.setJobGroup(f"perfbench-{next(self._groups)}-{kind}", kind)

    def add_phases(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.add(f"catalyst.{kv._1()}_s", kv._2().durationMs() / 1e3)

    def add_df_analysis(self, df, since: float) -> None:
        """Analysis is eager, at DataFrame construction, so the
        listener never sees it for the op's own plan; count it when the
        plan was analyzed after ``since`` (epoch seconds), not on a
        memo hit that hands back an older DataFrame."""
        phase = df._jdf.queryExecution().tracker().phases().get("analysis")
        if phase.isDefined() and phase.get().startTimeMs() >= since * 1e3:
            self.add("catalyst.analysis_s", phase.get().durationMs() / 1e3)

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner, attr: str, metric: str | None, on_exit=None) -> None:
        """Time every call of ``owner.attr`` into ``metric`` (if set) and
        call ``on_exit`` with the time it returned."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                if metric is not None:
                    self.add(metric, t1 - t0)
                if on_exit is not None:
                    on_exit(t1)

        setattr(owner, attr, timed)
        self._wrapped.append((owner, attr, original))

    def close(self) -> None:
        for owner, attr, original in reversed(self._wrapped):
            setattr(owner, attr, original)
        self._wrapped.clear()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    # -- Spark jobs and stages --------------------------------------------
    def _first_unseen_job(self, start: int) -> int:
        tracker = self.sc.statusTracker()
        job = start
        misses = 0
        probe = start
        while misses < 3:
            if tracker.getJobInfo(probe) is None:
                misses += 1
            else:
                misses = 0
                job = probe + 1
            probe += 1
        return job

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store and the Catalyst listener are current."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[int]:
        """Job ids started since the previous call."""
        self.drain()
        end = self._first_unseen_job(self._next_job)
        jobs = list(range(self._next_job, end))
        self._next_job = end
        return jobs

    def add_exec_jobs(self, jobs: list[int]) -> None:
        """Count ``jobs`` and their stages' metrics as execution."""
        self.add("exec.jobs", len(jobs))
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            self.add("exec.stages", 1)
            self.add("exec.tasks", sd.numTasks())
            self.add("exec.shuffle_read_bytes", sd.shuffleReadBytes())
            self.add("exec.shuffle_write_bytes", sd.shuffleWriteBytes())
            self.add("exec.spill_bytes", sd.diskBytesSpilled())
            self.add("exec.executor_run_s", sd.executorRunTime() / 1e3)
            self.add("exec.executor_cpu_s", sd.executorCpuTime() / 1e9)
            self.add("exec.gc_s", sd.jvmGcTime() / 1e3)

    def flush_jobs(self) -> None:
        """Count the jobs started since the last attribution to the
        current op kind."""
        self.add_exec_jobs(self.new_jobs())

    @contextlib.contextmanager
    def exec_span(self):
        """Time a block as execution and attribute the jobs it ran."""
        self.flush_jobs()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add("exec.s", time.perf_counter() - t0)
            self.flush_jobs()

    # -- summary ------------------------------------------------------------
    def summary(self, kinds) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
        """(metrics per op of ``kinds``, table of every kind's per-op
        means)."""
        total_ops = sum(self.ops[k] for k in kinds)
        totals: dict[str, float] = defaultdict(float)
        table = {}
        for kind, vals in self.values.items():
            n = self.ops.get(kind, 0)
            for k, v in vals.items():
                totals[k] += v
            if n:
                table[kind] = {"ops": n, **{k: v / n for k, v in sorted(vals.items())}}
        out = {}
        for name in METRICS:
            if name in GAUGES:
                out[name] = self.gauges.get(name, 0.0)
            else:
                out[name] = totals.get(name, 0.0) / max(1, total_ops)
        run_s = totals.get("exec.executor_run_s", 0.0)
        wall = totals.get("exec.s", 0.0)
        out["exec.busy_frac"] = run_s / (wall * self.cores) if wall else 0.0
        out["entry.memo_entries"] = float(memo_entries(self.app_id))
        return out, table


def wrap_layers(tr: Tracer) -> None:
    """Wrap the public calls of each traced layer (``--trace 1``)."""
    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.plans import pipeline
    from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable
    from stock_market_data_pipeline_v2_spark.streaming import jobs

    # plans.pipeline and __spark_entry__ import the operators by name,
    # so their module attributes are what the calls go through.
    for mod in (pipeline, entry):
        for name in ("bars_from_events", "filter_clean_bars", "merge_upsert",
                     "stock_performance", "daily_summary"):
            tr.wrap(mod, name, "operators.build_s")
    last_gold = {}
    tr.wrap(pipeline, "write_parquet", "pipeline.silver_s")
    tr.wrap(pipeline, "validate", "pipeline.gate_s")
    tr.wrap(pipeline, "write_clustered", "pipeline.gold_s",
            on_exit=lambda t: last_gold.update(t=t))
    tr.wrap(pipeline, "run_batch_pipeline", None,
            on_exit=lambda t: tr.add("pipeline.count_s", t - last_gold.get("t", t)))
    tr.wrap(jobs, "start_txn_sink_stream", "stream.start_s")
    tr.wrap(TxnTable, "commit_stream_batch", "txn.commit_s")
    tr.wrap(TxnTable, "optimize", "txn.optimize_s")
    tr.wrap(TxnTable, "expire_snapshots", "txn.vacuum_s")
    tr.wrap(TxnTable, "vacuum", "txn.vacuum_s")


def dir_bytes(root: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(root):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total
