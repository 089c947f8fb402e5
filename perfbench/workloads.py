"""The benchmark's op kinds, their DuckDB oracles and the output checksum.

Every op reaches the engine only through its public functions: the
``sources`` readers, ``operators.stateful`` for the batch W1-W4 forms and
``streaming`` for their micro-batch ports.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gen import BREACH
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.operators.stateful import (
    rows_between_breaches,
    running_max,
    tumbling_count_window_avg,
)
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.sources import (
    read_quotes_csv,
    read_quotes_stream,
    read_table,
)
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.streaming import (
    rows_between_breaches_stream,
    running_max_stream,
    tumbling_count_window_avg_stream,
)

WINDOW = 50  # W2 count window, as in the reference
KINDS = ("w1", "w2", "w3", "w4")
STREAM_KINDS = ("w1", "w2", "w3")


def checksum(df: DataFrame) -> tuple[int, int, int]:
    """(rows, sum of low hash words, sum of high hash words) over every
    output column: independent of row order and partitioning."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftright(h, 32)),
    ).collect()[0]
    return tuple(int(x or 0) for x in row)


# --------------------------------------------------------------- batch ---

def batch_keys(wide: bool) -> dict[str, list[str]]:
    """Key columns per kind. The hot-key workload keys like the reference
    (year; ticker; ticker; year and month) over one ticker; the wide one
    adds the ticker to every key."""
    t = ["symbol"] if wide else []
    return {"w1": [*t, "yr"], "w2": ["symbol"], "w3": ["symbol"], "w4": [*t, "yr", "mo"]}


def build_batch(kind: str, bars: DataFrame, keys: list[str]) -> DataFrame:
    if kind == "w1":
        d = bars.withColumn("yr", F.year("ts"))
        return running_max(d, keys, ["ts"], "close").select(
            "symbol", "yr", "ts", "close", "running_max")
    if kind == "w2":
        return tumbling_count_window_avg(bars, keys, ["ts"], "high_cents", WINDOW)
    if kind == "w3":
        return rows_between_breaches(
            bars, keys, ["ts"], F.col("close") >= BREACH, emit_cols=["symbol", "ts"])
    d = bars.withColumn("yr", F.year("ts")).withColumn("mo", F.month("ts"))
    return running_max(d, keys, ["ts"], "volume").select(
        "symbol", "yr", "mo", "ts", "volume", "running_max")


def read_bars(spark: SparkSession, in_dir: str) -> DataFrame:
    return read_table(spark, in_dir, "bars")


def batch_oracle_sql(kind: str, keys: list[str]) -> str:
    part = ", ".join({"yr": "year(ts)", "mo": "month(ts)"}.get(k, k) for k in keys)
    running = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    if kind == "w1":
        return f"""SELECT symbol, year(ts) AS yr, ts, close,
            max(close) OVER (PARTITION BY {part} ORDER BY ts {running}) AS running_max
            FROM bars"""
    if kind == "w4":
        return f"""SELECT symbol, year(ts) AS yr, month(ts) AS mo, ts, volume,
            max(volume) OVER (PARTITION BY {part} ORDER BY ts {running}) AS running_max
            FROM bars"""
    if kind == "w2":
        return _w2_sql(part, "ts", "high_cents", "symbol, cycle, ")
    return _w3_sql(part, "ts", "symbol, ts", "close")


def _w2_sql(part: str, order: str, value: str, out: str) -> str:
    cycle = WINDOW + 1
    return f"""
    WITH n AS (
      SELECT *, row_number() OVER (PARTITION BY {part} ORDER BY {order}) - 1 AS rn0 FROM bars
    ), c AS (SELECT *, rn0 // {cycle} AS cycle, rn0 % {cycle} AS pos FROM n)
    SELECT {out} avg(CASE WHEN pos < {WINDOW} THEN {value} END) AS avg_value
    FROM c GROUP BY {part}, cycle HAVING count(*) = {cycle}"""


def _w3_sql(part: str, order: str, emit: str, value: str) -> str:
    return f"""
    WITH n AS (
      SELECT *, row_number() OVER (PARTITION BY {part} ORDER BY {order}) AS rn FROM bars
    ), b AS (
      SELECT *, lag(rn, 1, 0) OVER (PARTITION BY {part} ORDER BY rn) AS prev_rn
      FROM n WHERE {value} >= {BREACH}
    )
    SELECT {emit}, rn - prev_rn - 1 AS rows_since_prev_breach FROM b"""


def run_oracle(bars_glob: str, csv: bool, queries: dict[str, str], out_dir: str) -> dict:
    """Run each oracle query in DuckDB over the same input files and write
    its rows to parquet. Two threads, so it can run beside the JVM start."""
    con = duckdb.connect(config={"threads": 2})
    reader = (f"read_csv('{bars_glob}', header=true, auto_detect=true)" if csv
              else f"read_parquet('{bars_glob}')")
    con.execute(f"CREATE VIEW bars AS SELECT * FROM {reader}")
    paths = {}
    for kind, sql in queries.items():
        paths[kind] = os.path.join(out_dir, f"oracle-{kind}.parquet")
        con.execute(f"COPY ({sql}) TO '{paths[kind]}' (FORMAT PARQUET)")
    con.close()
    return paths


def oracle_checksums(spark: SparkSession, paths: dict, schemas: dict) -> dict:
    """Checksum the oracle rows in Spark after casting them to the op's
    output types, so both sides hash identical values."""
    return {
        kind: checksum(spark.read.parquet(path).select(
            *[F.col(f.name).cast(f.dataType) for f in schemas[kind].fields]))
        for kind, path in paths.items()
    }


# -------------------------------------------------------------- stream ---

def build_stream(kind: str, spark: SparkSession, feed_dir: str) -> DataFrame:
    """The streaming ports with the reference's keying: year, ticker, ticker."""
    s = read_quotes_stream(spark, feed_dir)
    if kind == "w1":
        return running_max_stream(
            s.withColumn("yr", F.year("date")), ["yr"], ["date", "symbol"], "close")
    if kind == "w2":
        return tumbling_count_window_avg_stream(s, ["symbol"], ["date"], "high", WINDOW)
    return rows_between_breaches_stream(s, ["symbol"], ["date"], "close", BREACH, "date")


def build_stream_twin(kind: str, spark: SparkSession, feed_dir: str) -> DataFrame:
    """The batch form over the whole feed, shaped like the stream's output."""
    q = read_quotes_csv(spark, feed_dir, with_row_id=False)
    if kind == "w1":
        d = q.withColumn("yr", F.year("date"))
        return running_max(d, ["yr"], ["date", "symbol"], "close").select(
            "yr", "close", "running_max")
    if kind == "w2":
        return tumbling_count_window_avg(q, ["symbol"], ["date"], "high", WINDOW).select(
            "symbol", "avg_value")
    return rows_between_breaches(
        q, ["symbol"], ["date"], F.col("close") >= BREACH, emit_cols=["symbol", "date"])


def stream_oracle_sql(kind: str) -> str:
    if kind == "w1":
        return """SELECT year(date) AS yr, close, max(close) OVER (
            PARTITION BY year(date) ORDER BY date, symbol
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max FROM bars"""
    if kind == "w2":
        return _w2_sql("symbol", "date", "high", "symbol, ")
    return _w3_sql("symbol", "date", "symbol, date", "close")


def start_drain(df: DataFrame, name: str, checkpoint: str):
    """Start ``df`` into a memory table from a fresh checkpoint, to run
    until the feed is drained. Returns the started query."""
    q = (df.writeStream.format("memory").queryName(name).outputMode("append")
         .option("checkpointLocation", checkpoint).trigger(availableNow=True).start())
    return q
