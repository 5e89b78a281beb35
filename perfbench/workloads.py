"""The benchmark's workloads: closed loops with one client.

Each workload prepares its seeded inputs and warm state (``prepare``),
runs one *cycle* of ops at a time (the timed phase runs whole cycles,
so every run sees the same op mix whatever its length), and checks its
outputs after the timed phase (``check``). Ops report their latency
through :meth:`Bench.op`; an op that raises is counted as failed.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction

import numpy as np
import pandas as pd

import inputs
from layers import Tracer, dir_bytes, memo_entries

# Threads for the untimed warm-up ops and check collects: the first run
# of a plan spends most of its time generating and compiling code on
# the calling thread, so first runs overlap well on a 4-core host.
WARM_THREADS = 3


class Bench:
    """One Spark application's view of a run: session, tracer, clocks."""

    def __init__(self, spark, seed: int):
        import __spark_entry__ as entry

        self.spark = spark
        self.seed = seed
        self.tracer: Tracer | None = None
        self.queries = entry.queries()
        self.latencies: dict[str, list[float]] = defaultdict(list)
        self.warmup: dict[str, list[float]] = defaultdict(list)
        self.raised: dict[str, int] = defaultdict(int)
        self.timing = False

    def op(self, kind: str, body) -> None:
        """Run one op; its wall time counts if the timed phase is on."""
        if self.tracer is not None:
            self.tracer.begin_op(kind)
        t0 = time.perf_counter()
        try:
            body()
        except Exception:  # noqa: BLE001 — a failed op is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            if self.timing:
                self.raised[kind] += 1
            return
        (self.latencies if self.timing else self.warmup)[kind].append(time.perf_counter() - t0)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_frames(sf_dir: str, names: list[str], before: str | None = None) -> dict:
    """DuckDB oracle results for ``names`` on the generated ``events``,
    optionally only on the events before timestamp ``before``."""
    import duckdb

    import __spark_entry__ as entry

    where = f" WHERE ts < TIMESTAMP '{before}'" if before else ""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{sf_dir}/events.parquet'){where}")
        sql = entry.oracle_sql()
        return {n: con.execute(sql[n]).df() for n in names}
    finally:
        con.close()


def _exact(x) -> Fraction | None:
    """The decimal a double output stands for (its shortest repr), as an
    exact fraction; None for a null."""
    if x is None or pd.isna(x):
        return None
    return Fraction(repr(float(x)))


def _rolling_mean(n: int):
    """Exact mean of the row's symbol's last ``n`` closes, keyed by
    (symbol, trade_date); the first rows of a symbol average fewer."""
    def exact(odf, _perf) -> dict:
        out = {}
        for sym, g in odf.sort_values("trade_date").groupby("symbol"):
            closes = [_exact(x) for x in g["close_price"]]
            for i, day in enumerate(g["trade_date"]):
                window = closes[max(0, i - n + 1): i + 1]
                out[(sym, day)] = sum(window) / len(window)
        return out
    return exact


def _daily_mean(col: str):
    """Exact mean of ``col`` over a day's ``stock_performance`` rows,
    nulls skipped, keyed by (trade_date,)."""
    def exact(_odf, perf) -> dict:
        out = {}
        for day, g in perf.groupby("trade_date"):
            xs = [v for v in map(_exact, g[col]) if v is not None]
            out[(day,)] = sum(xs) / len(xs) if xs else None
        return out
    return exact


# Output columns that round a mean of decimal values, with the oracle's
# rounding digits and the exact mean rebuilt from the oracle's own rows.
EXACT_MEANS = {
    **{f"sma_{n}d": (4, _rolling_mean(n)) for n in (5, 10, 20, 50)},
    "bb_mid": (4, _rolling_mean(20)),
    "avg_return_pct": (4, _daily_mean("daily_return_pct")),
    "avg_volume_vs_norm": (4, _daily_mean("volume_vs_avg_20d")),
    "avg_annualised_vol_pct": (2, _daily_mean("annualised_volatility_pct")),
    "avg_intraday_range_pct": (4, _daily_mean("intraday_range_pct")),
}


def _tie_roundings(v: Fraction, digits: int) -> set:
    """Both roundings of ``v`` to ``digits`` places if ``v`` lies exactly
    half-way between them, else nothing."""
    unit = 10**digits
    scaled = v * unit
    if scaled.denominator != 2:
        return set()
    lo = Fraction(math.floor(scaled), unit)
    return {lo, lo + Fraction(1, unit)}


def _dated(df):
    df = df.copy()
    if "trade_date" in df.columns:
        df["trade_date"] = pd.to_datetime(df["trade_date"])
    return df


def tie_cells(sdf, odf, perf) -> int | None:
    """How many cells differ from the oracle, if every one of them is a
    rounded mean whose exact value (rebuilt with fractions from the
    oracle's rows, see ``EXACT_MEANS``) lies exactly half-way between
    two roundings, and the two outputs are those two roundings; None if
    any other difference exists.

    Both engines average in double precision and sum in different
    orders, so a mean whose exact value is a half-unit tie comes out a
    hair above the tie in one engine and a hair below in the other, and
    the rounding goes either way. Means of 8 prices or returns with 4
    decimals land on such ties often."""
    import verify_oracles

    keys = [c for c in ("symbol", "trade_date") if c in odf.columns]
    if "trade_date" not in keys:
        return None
    s, o, perf = _dated(sdf), _dated(odf), _dated(perf)
    merged = s.merge(o, on=keys, suffixes=("_s", "_o"))
    if o.duplicated(keys).any() or len(merged) != len(o):
        return None
    exact: dict[str, dict] = {}
    cells = 0
    for col in o.columns.drop(keys):
        rows = zip(merged[keys].itertuples(index=False), merged[f"{col}_s"], merged[f"{col}_o"])
        for key, a, b in rows:
            if verify_oracles.values_equal(a, b, rel=0.0):
                continue
            if col not in EXACT_MEANS:
                return None
            digits, rebuild = EXACT_MEANS[col]
            if col not in exact:
                exact[col] = rebuild(o, perf)
            v = exact[col].get(tuple(key))
            if v is None or not {_exact(a), _exact(b)} <= _tie_roundings(v, digits):
                return None
            cells += 1
    return cells


def compare_to_oracle(name: str, sdf, odf, perf) -> bool:
    """Whether one output matches its oracle (see :func:`tie_cells`;
    ``perf`` is the oracle's ``stock_performance``)."""
    import verify_oracles

    problems = verify_oracles.compare(name, sdf, odf)
    if not problems:
        return True
    # Only value differences may be ties; a schema, dtype or row-count
    # difference always fails.
    values_only = all(p.startswith("col ") for p in problems)
    ties = tie_cells(sdf, odf, perf) if values_only else None
    if ties is not None:
        print(f"[perfbench] check {name}: {ties} cells are the other rounding of an "
              "exact half-unit tie (accepted)", file=sys.stderr)
        return True
    print(f"[perfbench] check {name}: {problems[:3]}", file=sys.stderr)
    return False


class MartQuery:
    """Analyst reads of the marts and indicators, memos warm.

    The three marts (performance, daily breadth, real-time signals) and
    one read of each indicator family: rolling SMA/RSI, window-frame
    bands, the MACD recursion (``applyInPandas``) and the tick VWAP
    aggregate. ``daily_returns``, ``window_agg_15m`` and
    ``windowed_analytics`` are stages of these reads' memo chains;
    ``stochastic_k``, ``atr_obv`` and ``drawdown`` share the bands'
    window operators."""

    name = "mart_query"
    # Task slots: the reads are mostly window execution, which two slots
    # speed up.
    CORES = 2
    KINDS = (
        "stock_performance", "daily_summary", "realtime_signals",
        "rolling_indicators", "bollinger_bands", "macd", "daily_vwap",
    )

    def prepare(self, b: Bench, root: str) -> None:
        """Inputs, every kind's first call (which builds the memos; one
        at a time, as the memos are plain dicts), then one warm-up read
        of each kind on ``WARM_THREADS`` threads, so that the first-run
        code generation of the kinds overlaps, then one pass alone: with
        only the threaded reads, the first timed cycle ran about 20%
        slower than the third."""
        self.b = b
        self.sf_dir = os.path.join(root, "data")
        inputs.write_events(self.sf_dir, b.seed)
        for kind in self.KINDS:
            b.queries[kind](b.spark, self.sf_dir)
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            list(pool.map(lambda kind: b.op(kind, lambda: self._read(kind)), self.KINDS))
        self._pass(np.random.default_rng([b.seed, 4]))

    def cycle(self, i: int) -> None:
        self._pass(np.random.default_rng([self.b.seed, 3, i]))

    def _pass(self, rng) -> None:
        """Every kind once, in the order ``rng`` draws."""
        for kind in rng.permutation(self.KINDS):
            self.b.op(str(kind), lambda kind=str(kind): self._read(kind))

    def _read(self, kind: str) -> None:
        b, tr = self.b, self.b.tracer
        if tr is None:
            noop_write(b.queries[kind](b.spark, self.sf_dir))
            return
        misses = memo_entries(tr.app_id)
        since, t0 = time.time(), time.perf_counter()
        df = b.queries[kind](b.spark, self.sf_dir)
        tr.add("entry.build_s", time.perf_counter() - t0)
        build_jobs = tr.new_jobs()
        tr.add("entry.build_jobs", len(build_jobs))
        tr.add_exec_jobs(build_jobs)
        tr.add("entry.memo_misses", memo_entries(tr.app_id) - misses)
        tr.add_df_analysis(df, since)
        with tr.exec_span():
            noop_write(df)

    # The MACD oracle is a recursive CTE with one step per trading day
    # (about 12 s over 300 days), so it is checked on the first 60 days:
    # the EMAs are causal, so those rows of the full output must equal
    # the oracle run on those days' events alone.
    MACD_DAYS = 60

    def check(self) -> dict[str, bool]:
        b = self.b
        cutoff = inputs.START_DAY + np.timedelta64(self.MACD_DAYS, "D")
        rest = [k for k in self.KINDS if k != "macd"]
        with ThreadPoolExecutor(2) as pool:
            full = pool.submit(oracle_frames, self.sf_dir, rest)
            macd = pool.submit(oracle_frames, self.sf_dir, ["macd"], str(cutoff))
            # select("*"): collect a fresh plan, never a memo's own
            # DataFrame, whose QueryExecution later hits would share.
            with ThreadPoolExecutor(WARM_THREADS) as collect:
                got = dict(zip(self.KINDS, collect.map(
                    lambda k: b.queries[k](b.spark, self.sf_dir).select("*").toPandas(),
                    self.KINDS,
                )))
            want = {**full.result(), **macd.result()}
        macd = got["macd"]
        got["macd"] = macd[macd["trade_date"] < cutoff.astype(object)]
        perf = want["stock_performance"]
        return {k: compare_to_oracle(k, got[k], want[k], perf) for k in self.KINDS}


class Pipeline:
    """The batch and stream pipeline that keeps the marts fresh.

    A cycle runs an incremental ``run_batch_pipeline`` refresh (the
    merge path: every operator of the full refresh plus
    ``merge_upsert`` and the silver swap), then creates a table and
    runs three tick micro-batches, OPTIMIZE, three more micro-batches,
    then expire + VACUUM. Each micro-batch op drops one JSON file and
    drains it into a ``TxnTable`` with an ``availableNow`` stream,
    timed until the rows are visible through ``read()``; after it, a
    reader op (not one of the workload's ``KINDS``) alternates a full
    snapshot read with a one-symbol pruned read on the ``symbol`` zone
    map. Every cycle
    replays the same batches into a fresh table and rewrites the same
    zones, so a cycle's work does not depend on how many ran before it.
    """

    name = "pipeline"
    # Task slots: the ops are mostly scheduling, file commits and py4j
    # round trips (executors busy about a quarter of the time at two
    # slots), so one slot is as fast and leaves the run fewer threads
    # for host steal to delay.
    CORES = 1
    KINDS = ("refresh", "ingest")
    BATCHES = 6
    APP = "ticks"

    def prepare(self, b: Bench, root: str) -> None:
        self.b = b
        self.root = root
        self.sf_dir = os.path.join(root, "data")
        self.out_root = os.path.join(root, "refresh")
        inputs.write_events(self.sf_dir, b.seed)
        self.symbols, self.rows = inputs.tick_batches(b.seed, self.BATCHES + 1)
        self.expected_bars = None
        self.read_s: dict[str, list[float]] = defaultdict(list)
        # Warm-up, every op kind once: a full refresh (it writes the
        # silver zone) then an incremental one, beside the tick ops of
        # a cycle on another thread (they share no files).
        with ThreadPoolExecutor(2) as pool:
            refreshes = pool.submit(lambda: [
                b.op("refresh_full", lambda: self._refresh(False)),
                b.op("refresh", lambda: self._refresh(True)),
            ])
            ticks = pool.submit(self._tick_ops, os.path.join(root, "warm"))
            refreshes.result()
            ticks.result()
        # Then one whole cycle alone: without it, the first timed
        # cycle's refresh ran 10-15% slower than the third.
        self._cycle(os.path.join(root, "warm-cycle"))

    def cycle(self, i: int) -> None:
        self._cycle(os.path.join(self.root, f"cycle{i:03d}"))

    def _cycle(self, croot: str) -> None:
        self.b.op("refresh", lambda: self._refresh(True))
        self._tick_ops(croot)

    def _tick_ops(self, croot: str) -> None:
        """A fresh table, ``BATCHES`` micro-batches each followed by a
        read (OPTIMIZE half way), then expire + VACUUM."""
        b = self.b
        b.op("create", lambda: self._new_table(croot))
        for j in range(1, self.BATCHES + 1):
            if j == self.BATCHES // 2 + 1:
                b.op("optimize", lambda: self.table.optimize(b.spark, "symbol", n_files=4))
            b.op("ingest", lambda j=j: self._ingest(j))
            kind = "read" if j % 2 else "read_pruned"
            b.op(kind, lambda j=j, kind=kind: self._read(j, kind))
        b.op("vacuum", self._maintain)

    def _maintain(self) -> None:
        """Expire all but two snapshots and VACUUM; with tracing on,
        record the table's state before and its bytes after."""
        b, tr = self.b, self.b.tracer
        if tr is not None and b.timing:
            self._table_gauges(tr)
        self.table.expire_snapshots(keep_last=2)
        self.table.vacuum(grace_seconds=0)
        if tr is not None and b.timing:
            tr.gauges["txn.stored_bytes_per_input_byte"] = (
                dir_bytes(self.table.root) / self.input_bytes
            )

    # -- batch refresh ------------------------------------------------------
    def _refresh(self, incremental: bool) -> None:
        from stock_market_data_pipeline_v2_spark.plans import pipeline

        tr = self.b.tracer
        with tr.exec_span() if tr is not None else contextlib.nullcontext():
            res = pipeline.run_batch_pipeline(
                self.b.spark, self.sf_dir, self.out_root, incremental=incremental
            )
        if tr is not None:
            tr.add("io.bytes_written", dir_bytes(self.out_root))
        if not res.checks.ok or res.performance_rows != res.silver_rows:
            raise RuntimeError(f"refresh result inconsistent: {res}")
        if self.expected_bars is None:
            self.expected_bars = res.silver_rows
        elif res.silver_rows != self.expected_bars:
            raise RuntimeError(f"silver rows {res.silver_rows} != {self.expected_bars}")

    # -- stream ingest --------------------------------------------------------
    def _ticks_frame(self, path: str):
        from pyspark.sql import functions as F

        from stock_market_data_pipeline_v2_spark.schemas import RAW_TICKS

        return (
            self.b.spark.read.schema(RAW_TICKS).json(path)
            .withColumn("event_time", F.try_to_timestamp("timestamp"))
            .drop("timestamp")
        )

    def _new_table(self, croot: str) -> None:
        """A table created from base batch 0, with a ``symbol`` zone
        map that later stream appends carry forward."""
        from stock_market_data_pipeline_v2_spark.sources.txn_table import TxnTable

        base_dir, self.drop_dir = os.path.join(croot, "base"), os.path.join(croot, "drop")
        os.makedirs(base_dir)
        os.makedirs(self.drop_dir)
        self.input_bytes = inputs.drop_batch(base_dir, self.rows[0], 0)
        self.table = TxnTable.create(
            self.b.spark, os.path.join(croot, "table"),
            self._ticks_frame(base_dir), zone_map_col="symbol",
        )
        self.checkpoint = os.path.join(croot, "checkpoint")

    def _ingest(self, j: int) -> None:
        from stock_market_data_pipeline_v2_spark.streaming import jobs

        b, tr = self.b, self.b.tracer
        self.input_bytes += inputs.drop_batch(self.drop_dir, self.rows[j], j)
        with tr.exec_span() if tr is not None else contextlib.nullcontext():
            q = jobs.start_txn_sink_stream(
                b.spark, self.drop_dir, self.table, self.checkpoint,
                app_id=self.APP, available_now=True,
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            n = self.table.read(b.spark).count()
        if n != (j + 1) * inputs.TICKS_PER_BATCH:
            raise RuntimeError(f"after batch {j}: {n} rows visible")
        if tr is not None:
            for p in q.recentProgress:
                d = p["durationMs"]
                tr.add("stream.trigger_s", d.get("triggerExecution", 0) / 1e3)
                tr.add("stream.add_batch_s", d.get("addBatch", 0) / 1e3)
                tr.add("stream.planning_s", d.get("queryPlanning", 0) / 1e3)
                tr.add("stream.wal_commit_s", d.get("walCommit", 0) / 1e3)
                tr.add("stream.input_rows", p["numInputRows"])

    def _read(self, j: int, kind: str) -> None:
        b, tr = self.b, self.b.tracer
        t0 = time.perf_counter()
        with tr.exec_span() if tr is not None else contextlib.nullcontext():
            if kind == "read":
                n = self.table.read(b.spark).count()
                want = (j + 1) * inputs.TICKS_PER_BATCH
            else:
                sym = self._symbol(j)
                n = self.table.read_pruned(b.spark, "symbol", sym, sym).count()
                want = sum(r["symbol"] == sym for rows in self.rows[: j + 1] for r in rows)
        if tr is not None and b.timing:
            self.read_s[kind].append(time.perf_counter() - t0)
            tr.gauges[f"txn.{kind}_s"] = statistics.median(self.read_s[kind])
        if n != want:
            raise RuntimeError(f"{kind} after batch {j}: {n} rows, want {want}")

    def _symbol(self, j: int) -> str:
        return sorted(self.symbols)[j % len(self.symbols)]

    def _table_gauges(self, tr: Tracer) -> None:
        t = self.table
        m = t.manifest()
        vdir = os.path.join(t.root, "_versions")
        sym = self._symbol(self.BATCHES)
        kept, total = t.prune_files("symbol", sym, sym)
        tr.gauges.update({
            "txn.versions": float(len(t.versions())),
            "txn.live_files": float(len(m["files"])),
            "txn.manifest_bytes": float(sum(
                os.path.getsize(os.path.join(vdir, f))
                for f in os.listdir(vdir) if f.endswith(".json")
            )),
            "txn.data_bytes": float(sum(
                os.path.getsize(os.path.join(t.root, f)) for f in m["files"]
            )),
            "txn.orphans": float(len(t.staged_orphans())),
            "txn.prune_kept_frac": len(kept) / total,
        })

    def check(self) -> dict[str, bool]:

        b = self.b
        names = ["stock_performance", "daily_summary"]
        want_marts = oracle_frames(self.sf_dir, names)
        marts_ok = all([
            compare_to_oracle(
                name, b.spark.read.parquet(f"{self.out_root}/gold/{name}").toPandas(),
                want_marts[name], want_marts["stock_performance"])
            for name in names
        ])
        got = self.table.read(b.spark).toPandas()
        want = pd.DataFrame([r for rows in self.rows for r in rows])
        want["event_time"] = pd.to_datetime(want.pop("timestamp"))
        cols = sorted(want.columns)
        same = len(got) == len(want) and (
            got[cols].sort_values(cols).reset_index(drop=True)
            .equals(want[cols].sort_values(cols).reset_index(drop=True))
        )
        if not same:
            print("[perfbench] check ingest: table rows differ from dropped rows",
                  file=sys.stderr)
        # Replaying the last committed micro-batch must be a no-op.
        version = self.table.latest_version()
        last = self.table.last_committed_batch(self.APP)
        replay = self.table.commit_stream_batch(
            b.spark, self._ticks_frame(self.drop_dir).limit(1), self.APP, last
        )
        idempotent = replay is None and self.table.latest_version() == version
        if not idempotent:
            print("[perfbench] check ingest: replayed batch was committed", file=sys.stderr)
        return {"refresh": marts_ok, "ingest": same and idempotent}


WORKLOADS = {w.name: w for w in (MartQuery, Pipeline)}
