"""Seeded benchmark inputs.

The program only ever sees what these functions write: an ``events``
table in the testdata parquet layout (read through ``load_table``) and
JSON tick micro-batches in the ``RAW_TICKS`` schema (read by the
streaming file source). The same seed gives byte-identical inputs; the
sizes do not depend on the seed, so timings are comparable across seeds.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UNIVERSE = (
    "AAPL MSFT GOOGL AMZN NVDA META TSLA JPM V UNH XOM JNJ WMT PG MA HD "
    "CVX MRK ABBV KO PEP COST AVGO ORCL"
).split()

# Mart inputs: 8 symbols x 300 trading days fills the SMA-50, RSI-14
# and 252-row 52-week windows with room to spare; 8 ticks per
# symbol-day (19,200 events) keeps one warm mart read near 0.3-1.5 s at
# local[2].
N_SYMBOLS = 8
N_DAYS = 300
TICKS_PER_DAY = 8
START_DAY = np.datetime64("2023-01-02", "D")
DAY_US = 86_400_000_000


def symbols(seed: int) -> np.ndarray:
    """The seed's ticker universe (``N_SYMBOLS`` of ``UNIVERSE``)."""
    return np.random.default_rng([seed, 0]).choice(UNIVERSE, size=N_SYMBOLS, replace=False)


def write_events(sf_dir: str, seed: int) -> int:
    """Write ``{sf_dir}/events.parquet``; returns the row count.

    Prices are a per-symbol random walk (2 dp), quantities ride in
    ``props`` as ``{"k": n}`` with occasional volume spikes, and about
    0.5% of rows carry a malformed quantity so the cleaning paths run.
    """
    rng = np.random.default_rng([seed, 1])
    syms = symbols(seed)
    per_sym = N_DAYS * TICKS_PER_DAY
    n = N_SYMBOLS * per_sym
    sym_idx = np.repeat(np.arange(N_SYMBOLS), per_sym)
    day = np.tile(np.repeat(np.arange(N_DAYS), TICKS_PER_DAY), N_SYMBOLS)
    offset = np.sort(
        rng.integers(0, DAY_US, size=(N_SYMBOLS * N_DAYS, TICKS_PER_DAY)), axis=1
    ).ravel()
    ts_us = (START_DAY.astype("datetime64[us]").astype("int64")
             + day.astype("int64") * DAY_US + offset)
    base = rng.uniform(20, 400, size=N_SYMBOLS)
    walk = np.cumsum(rng.normal(0, 0.01, size=(N_SYMBOLS, per_sym)), axis=1)
    price = np.round(base[:, None] * np.exp(walk), 2).ravel()
    qty = rng.integers(1, 100, size=n)
    qty = np.where(rng.random(n) < 0.02, qty * 6, qty)
    props = np.array([f'{{"k": {q}}}' for q in qty], dtype=object)
    bad = rng.random(n) < 0.005
    props[bad] = '{"k": "n/a"}'
    order = np.argsort(ts_us, kind="stable")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us[order].astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, size=n)[order]),
        "event_type": pa.array(syms[sym_idx[order]].astype(object)),
        "value": pa.array(price[order]),
        "props": pa.array(props[order]),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
    return n


# Tick inputs: one batch is 2,000 ticks covering the next 10 minutes of
# a trading day for the same 8-symbol universe.
TICKS_PER_BATCH = 2000
BATCH_SPAN_US = 10 * 60 * 1_000_000
TICK_DAY = np.datetime64("2024-03-01T14:30:00", "us")


def tick_batches(seed: int, n: int) -> tuple[list[str], list[list[dict]]]:
    """(symbol universe, rows of micro-batches 0..n-1 in ``RAW_TICKS``
    fields)."""
    syms = [str(s) for s in symbols(seed)]
    return syms, [_tick_batch(seed, j, syms) for j in range(n)]


def _tick_batch(seed: int, batch: int, symbols: list[str]) -> list[dict]:
    rng = np.random.default_rng([seed, 2, batch])
    start = TICK_DAY + np.timedelta64(batch * BATCH_SPAN_US, "us")
    off = np.sort(rng.integers(0, BATCH_SPAN_US, size=TICKS_PER_BATCH))
    ts = (start + off.astype("timedelta64[us]")).astype(str)
    price = np.round(rng.uniform(20, 400, size=TICKS_PER_BATCH), 4)
    spread = np.round(rng.uniform(0, 2, size=(3, TICKS_PER_BATCH)), 4)
    vol = rng.integers(1, 5000, size=TICKS_PER_BATCH)
    sym = rng.integers(0, len(symbols), size=TICKS_PER_BATCH)
    return [
        {
            "symbol": symbols[sym[i]],
            "timestamp": str(ts[i]),
            "price": float(price[i]),
            "open": float(round(price[i] - spread[0, i], 4)),
            "high": float(round(price[i] + spread[1, i], 4)),
            "low": float(round(price[i] - spread[2, i], 4)),
            "volume": int(vol[i]),
        }
        for i in range(TICKS_PER_BATCH)
    ]


def drop_batch(drop_dir: str, rows: list[dict], batch: int) -> int:
    """Atomically publish one JSON-lines file; returns its byte size.

    Written under a dot-name (hidden from the file source) and renamed
    into place, as a producer landing files for a stream must.
    """
    body = "".join(json.dumps(r) + "\n" for r in rows).encode()
    final = os.path.join(drop_dir, f"ticks-{batch:06d}.json")
    tmp = os.path.join(drop_dir, f".ticks-{batch:06d}.json.tmp")
    with open(tmp, "wb") as fh:
        fh.write(body)
    os.rename(tmp, final)
    return len(body)
