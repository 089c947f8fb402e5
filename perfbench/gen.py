"""Seeded input generators. The same seed gives byte-identical files.

Prices are multiples of 1/4 (bars) or whole cents held as integers, so
every sum the W2 average takes is exact in binary floating point: the
program, its streaming port and DuckDB then agree to the last bit, and an
output checksum can be compared for equality.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BREACH = 300.0  # W3 threshold: the reference's hard-coded close >= 300
YEARS = 20


def _prices(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    # Centred on the breach threshold so about half the rows breach.
    close = np.round(rng.normal(BREACH, 25.0, n) * 4) / 4
    high = close + np.round(rng.uniform(0, 3, n) * 4) / 4
    return close, high


def _bar_times(rows: int) -> np.ndarray:
    """``rows`` intraday bar timestamps over ``YEARS`` years of trading days."""
    days = pd.bdate_range("2000-01-03", periods=YEARS * 252).values.astype("datetime64[m]")
    per_day = -(-rows // len(days))
    step = max(1, 375 // per_day)  # a 09:15-15:30 session, in minutes
    offs = (np.arange(per_day) * step).astype("timedelta64[m]") + np.timedelta64(9 * 60 + 15, "m")
    return (days[:, None] + offs[None, :]).ravel()[:rows].astype("datetime64[us]")


def write_bars(out_dir: str, seed: int, rows: int, tickers: int, files: int) -> None:
    """Bars table ``bars`` (symbol, ts, close, high, volume) as ``files``
    parquet parts, so a scan has ``files`` tasks. With one ticker every bar
    belongs to it; with many, ticker ``i`` takes every ``tickers``-th bar of
    the calendar, so each ticker still spans all years."""
    rng = np.random.default_rng(seed)
    ts = _bar_times(rows)
    symbols = np.array([f"T{i:04d}" for i in range(tickers)])
    close, high = _prices(rng, rows)
    table = pa.table({
        "symbol": symbols[np.arange(rows) % tickers],
        "ts": ts,
        "close": close,
        "high_cents": np.round(high * 100).astype(np.int64),
        "volume": rng.integers(1_000, 5_000_000, rows),
    })
    path = os.path.join(out_dir, "bars.parquet")
    os.makedirs(path)
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_quote_feed(feed_dir: str, seed: int, tickers: int, days: int, chunks: int) -> None:
    """Daily quotes of ``tickers`` symbols in the reference's CSV shape,
    time-ordered and cut into ``chunks`` files by date (one micro-batch
    each)."""
    rng = np.random.default_rng(seed)
    dates = pd.bdate_range("2000-01-03", periods=days).strftime("%Y-%m-%d").values
    n = days * tickers
    close, high = _prices(rng, n)
    df = pd.DataFrame({
        "date": np.repeat(dates, tickers),
        "symbol": np.tile(np.array([f"S{i:03d}" for i in range(tickers)]), days),
        "series": "EQ",
        "prev_close": close, "open": close, "high": high, "low": close - 1.0,
        "last": close, "close": close, "vwap": close,
        "volume": rng.integers(1_000, 5_000_000, n),
        "turnover": close * 1000.0, "trades": 100.0,
        "deliverable_volume": 500.0, "pct_deliverable": 0.5,
    })
    os.makedirs(feed_dir)
    bounds = np.linspace(0, days, chunks + 1).astype(int) * tickers
    for i in range(chunks):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        part.to_csv(os.path.join(feed_dir, f"chunk-{i:05d}.csv"), index=False)
