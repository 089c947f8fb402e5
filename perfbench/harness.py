"""One benchmark run in one process: generate the seeded inputs, set up
the session, pass untimed over every op kind, then run the kinds in
a fixed round-robin for whole rounds until the run time is spent.

Started by ``run.py``, which owns the environment, the temp dirs and the
process tree; this file prints the run's result as its last stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import gen
import measure
from measure import Tracer, percentile

HEAP = "1g"  # fixed with -Xms too; the package default (16g) exceeds a 15 GB box

# 400k rows give 0.5-0.9 s ops, and enough shuffle bytes that AQE keeps
# nproc partitions on the wide workload.
BATCH_ROWS = 400_000
WARM_PASSES = 2  # the first pass is 2-4x slower; the second settles JIT and GC
WIDE_TICKERS = 2_000
STREAM_TICKERS = 24
STREAM_DAYS = 400
STREAM_CHUNKS = 2  # micro-batches per drain
MEASURED_ROUNDS = 2  # also gives a traced run one untraced round

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("rows_per_s", "rows/s"),
    ("op_ms_p50", "ms"),
    ("cpu_ms_per_op", "ms"),
    ("peak_pss_mb", "MiB"),
]

# (name, unit, better). Layers a workload does not run read 0.
PER_LAYER = [
    ("session.get_spark_ms", "ms", "lower"),
    ("sources.read_ms", "ms", "lower"),
    ("operators.build_ms", "ms", "lower"),
    ("exec.action_ms", "ms", "lower"),
    *((f"w{i}.action_ms", "ms", "lower") for i in range(1, 5)),
    ("exec.jobs_per_op", "count", "lower"),
    ("exec.stages_per_op", "count", "lower"),
    ("exec.tasks_per_op", "count", "higher"),
    ("exec.failed_tasks", "count", "lower"),
    *((f"w{i}.min_stage_tasks", "count", "higher") for i in range(1, 5)),
    ("stream.trigger_ms", "ms", "lower"),
    *((f"stream.{p}_ms", "ms", "lower") for p in measure.PHASES),
    ("stream.driver_gap_ms", "ms", "lower"),
    *((f"w{i}_stream.addBatch_ms", "ms", "lower") for i in range(1, 4)),
    ("state.update_ms", "ms", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.rows_total", "count", "lower"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.cache_hit_ratio", "ratio", "higher"),
    ("sink.output_rows", "count", "higher"),
    ("error_rate", "ratio", "lower"),
    ("op_ms_p90", "ms", "lower"),
    ("op.samples", "count", "higher"),
    ("op.tail_percentile", "%", "higher"),
    ("trace.overhead_ms_per_op", "ms", "lower"),
    ("bench.gen_ms", "ms", "lower"),
    ("bench.oracle_ms", "ms", "lower"),
    ("bench.rounds", "count", "higher"),
    ("box.probe_ms", "ms", "lower"),
    ("box.probe_after_ms", "ms", "lower"),
    ("box.load1", "load", "lower"),
]

SELF_LAYERS = ("op", "sources.read", "operators.build", "exec.action", "stream.start",
               "stream.await", "stream.trigger", *(f"stream.{p}" for p in measure.PHASES))


def per_layer_names() -> list[tuple[str, str]]:
    return [(n, u) for n, u, _ in PER_LAYER] + [(f"self.{n}_ms", "ms") for n in SELF_LAYERS]


class Run:
    """State of one run, shared by the workload functions."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.in_dir = os.path.join(run_dir, "in")
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.layer: dict[str, float] = {}
        self.ops: list[dict] = []  # one record per timed op
        self.setup_s = 0.0
        self.warm_ok = False  # the warm-up outputs matched the oracle
        self.spark = None

    def session(self):
        from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.session import (
            get_spark,
        )

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc,
                extra_conf={
                    "spark.driver.memory": HEAP,
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(self.run_dir, "local"),
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
                },
            )
        self.layer["session.get_spark_ms"] = (time.perf_counter() - t0) * 1000

    def rounds(self, one_round):
        """Run whole rounds until ``--seconds`` have passed, and at least
        ``MEASURED_ROUNDS``. The end-to-end metrics cover the first
        ``MEASURED_ROUNDS`` only: ops keep getting cheaper as the JIT warms,
        so a run that fits one more round would otherwise read faster than
        its box alone explains. In a traced run every second round records
        no spans and no status, so the traced and untraced op times of the
        same run give the tracing overhead."""
        t0 = time.perf_counter()
        n = 0
        while n < MEASURED_ROUNDS or time.perf_counter() - t0 < self.args.seconds:
            traced = bool(self.args.trace) and n % 2 == 0
            self.tracer.enabled = traced
            one_round(n, traced)
            n += 1
        self.tracer.enabled = bool(self.args.trace)
        self.layer["bench.rounds"] = n


def _job_stats(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran for one op's job group, from the
    public StatusTracker. The last stage of the last job is the benchmark's
    own single-task checksum reduce, so ``min_stage_tasks`` leaves it out."""
    tr = sc.statusTracker()
    jobs = sorted(tr.getJobIdsForGroup(group))
    stages = []
    for j in jobs:
        info = tr.getJobInfo(j)
        for sid in sorted(info.stageIds) if info else ():
            s = tr.getStageInfo(sid)
            if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:
                stages.append(s)
    body = stages[:-1] or stages
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.numTasks for s in stages),
        "failed_tasks": sum(s.numFailedTasks for s in stages),
        "min_stage_tasks": min((s.numTasks for s in body), default=0),
    }


def _background(fn, *args):
    """Start ``fn(*args)`` on a thread; the caller reads ``.result()``.
    The DuckDB oracle runs this way while the JVM starts."""
    pool = ThreadPoolExecutor(max_workers=1)
    future = pool.submit(fn, *args)
    pool.shutdown(wait=False)
    return future


def _fail(what: str) -> None:
    print(f"[perfbench] FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)


# --------------------------------------------------------------- batch ---

def run_batch(run: Run, wide: bool) -> None:
    import workloads as W

    args, tracer = run.args, run.tracer
    t0 = time.perf_counter()
    gen.write_bars(run.in_dir, args.seed, BATCH_ROWS,
                   WIDE_TICKERS if wide else 1, files=run.nproc)
    run.layer["bench.gen_ms"] = (time.perf_counter() - t0) * 1000
    keys = W.batch_keys(wide)
    oracle = _background(W.run_oracle, os.path.join(run.in_dir, "bars.parquet", "*.parquet"),
                         False, {k: W.batch_oracle_sql(k, keys[k]) for k in W.KINDS}, run.run_dir)

    setup0 = time.perf_counter()
    with tracer.span("setup"):
        run.session()
        spark = run.spark
        sc = spark.sparkContext
        warm, schemas = {}, {}
        with tracer.span("warmup"):
            for _ in range(WARM_PASSES):
                for kind in W.KINDS:
                    df = W.build_batch(kind, W.read_bars(spark, run.in_dir), keys[kind])
                    schemas[kind] = df.schema
                    warm[kind] = W.checksum(df)
    run.setup_s = time.perf_counter() - setup0

    t0 = time.perf_counter()
    expected = W.oracle_checksums(spark, oracle.result(), schemas)
    run.layer["bench.oracle_ms"] = (time.perf_counter() - t0) * 1000
    run.warm_ok = all(warm[k] == expected[k] for k in W.KINDS)
    for k in W.KINDS:
        if warm[k] != expected[k]:
            print(f"[perfbench] {k}: warm-up {warm[k]} != DuckDB {expected[k]}", file=sys.stderr)

    def one_round(n, traced):
        for kind in W.KINDS:
            op = len(run.ops)
            group = f"op-{op}"
            rec = {"kind": kind, "rows": BATCH_ROWS, "traced": traced, "ok": False, "round": n}
            cpu0 = measure.tree_cpu_ms(os.getpid())
            sc.setJobGroup(group, kind)
            t = [time.perf_counter()]
            try:
                with tracer.span("op", op=op):
                    with tracer.span("sources.read", op=op):
                        bars = W.read_bars(spark, run.in_dir)
                    t.append(time.perf_counter())
                    with tracer.span("operators.build", op=op):
                        df = W.build_batch(kind, bars, keys[kind])
                    t.append(time.perf_counter())
                    with tracer.span("exec.action", op=op):
                        got = W.checksum(df)
                    t.append(time.perf_counter())
                measure.check_output(kind, got, expected[kind])
                rec["ok"] = True
            except Exception:  # a failed op counts in error_rate; the run goes on
                _fail(f"{kind} op {op}")
                t += [time.perf_counter()] * (4 - len(t))
            rec["ms"] = (t[3] - t[0]) * 1000
            rec["read_ms"], rec["build_ms"], rec["action_ms"] = (
                (t[i + 1] - t[i]) * 1000 for i in range(3))
            rec["cpu_ms"] = measure.tree_cpu_ms(os.getpid()) - cpu0
            if traced:
                rec.update(_job_stats(sc, group))
            run.ops.append(rec)

    run.rounds(one_round)


def batch_layers(run: Run) -> dict:
    traced = [r for r in run.ops if r["traced"]]
    out = {
        f"{layer}_ms": percentile([r[key] for r in traced], 0.5)
        for layer, key in (("sources.read", "read_ms"), ("operators.build", "build_ms"),
                           ("exec.action", "action_ms"))
    }
    for kind in ("w1", "w2", "w3", "w4"):
        mine = [r for r in traced if r["kind"] == kind]
        out[f"{kind}.action_ms"] = percentile([r["action_ms"] for r in mine], 0.5)
        out[f"{kind}.min_stage_tasks"] = min(r["min_stage_tasks"] for r in mine)
    for k in ("jobs", "stages", "tasks"):
        out[f"exec.{k}_per_op"] = sum(r[k] for r in traced) / len(traced)
    out["exec.failed_tasks"] = sum(r["failed_tasks"] for r in traced)
    return out


# -------------------------------------------------------------- stream ---

def run_stream(run: Run) -> None:
    import workloads as W

    args, tracer = run.args, run.tracer
    feed = os.path.join(run.in_dir, "feed")
    t0 = time.perf_counter()
    gen.write_quote_feed(feed, args.seed, STREAM_TICKERS, STREAM_DAYS, STREAM_CHUNKS)
    run.layer["bench.gen_ms"] = (time.perf_counter() - t0) * 1000
    oracle = _background(W.run_oracle, os.path.join(feed, "*.csv"), True,
                         {k: W.stream_oracle_sql(k) for k in W.STREAM_KINDS}, run.run_dir)
    ckpt = os.path.join(run.run_dir, "checkpoints")
    drains = [0]

    def drain(kind: str, feed_dir: str):
        """One drain of ``kind`` from a fresh checkpoint: the progress of
        its batches that read rows, and the memory table it filled."""
        name = f"{kind}_{drains[0]}"
        drains[0] += 1
        with tracer.span("stream.start"):
            q = W.start_drain(W.build_stream(kind, run.spark, feed_dir), name,
                              os.path.join(ckpt, name))
        with tracer.span("stream.await") as await_id:
            q.awaitTermination()
        progress = [measure.parse_progress(p.json) for p in q.recentProgress]
        return [p for p in progress if p["input_rows"] > 0], name, await_id

    def output(name: str):
        got = W.checksum(run.spark.table(name))
        run.spark.catalog.dropTempView(name)
        return got

    setup0 = time.perf_counter()
    with tracer.span("setup"):
        run.session()
        with tracer.span("warmup"):
            warm = {k: output(drain(k, feed)[1]) for k in W.STREAM_KINDS}
    run.setup_s = time.perf_counter() - setup0
    spark = run.spark

    t0 = time.perf_counter()
    twins = {k: W.build_stream_twin(k, spark, feed) for k in W.STREAM_KINDS}
    expected = {k: W.checksum(df) for k, df in twins.items()}
    duck = W.oracle_checksums(spark, oracle.result(), {k: df.schema for k, df in twins.items()})
    run.layer["bench.oracle_ms"] = (time.perf_counter() - t0) * 1000
    run.warm_ok = warm == expected == duck
    if not run.warm_ok:
        print(f"[perfbench] warm-up drains {warm}, batch twins {expected}, DuckDB {duck}",
              file=sys.stderr)

    def one_round(n, traced):
        for kind in W.STREAM_KINDS:
            op = len(run.ops)
            ok, batches, name, await_id = False, [], None, None
            cpu0 = measure.tree_cpu_ms(os.getpid())
            t0 = time.perf_counter()
            base = time.time() - t0
            try:
                with tracer.span("op", op=op):
                    batches, name, await_id = drain(kind, feed)
            except Exception:  # the drain counts as one failed op
                _fail(f"{kind} drain {op}")
            wall_ms = (time.perf_counter() - t0) * 1000
            cpu = measure.tree_cpu_ms(os.getpid()) - cpu0
            if name is not None:
                try:
                    measure.check_output(f"{kind} stream", output(name), expected[kind])
                    ok = True
                except Exception:  # a wrong or unreadable output fails its batches
                    _fail(f"{kind} output {op}")
            if await_id is not None:
                _progress_spans(tracer, await_id, batches, base, op)
            # A batch's latency is its trigger time plus an even share of the
            # drain's driver gap (query start and stop), so the ops of a drain
            # add up to its wall time.
            n_ops = max(len(batches), 1)
            gap = (wall_ms - sum(b["trigger_ms"] for b in batches)) / n_ops
            for b in batches or [{"trigger_ms": 0.0, "input_rows": 0}]:
                run.ops.append({
                    "kind": kind, "ms": b["trigger_ms"] + gap, "rows": b["input_rows"], "round": n,
                    "traced": traced, "ok": ok, "drain": op, "cpu_ms": cpu / n_ops,
                    "progress": b, "gap_ms": gap,
                })

    run.rounds(one_round)


def _progress_spans(tracer: Tracer, parent: int, batches, base: float, op: int) -> None:
    """Child spans of the ``stream.await`` span synthesized from each
    progress report: one per trigger, with its phases laid end to end in
    the order a micro-batch runs them."""
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    for b in batches:
        start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp() - base
        tid = tracer.add("stream.trigger", start, start + b["trigger_ms"] / 1000, parent, op)
        at = start
        for ph in order:
            d = b["phases_ms"][ph] / 1000
            tracer.add(f"stream.{ph}", at, at + d, tid, op)
            at += d


def stream_layers(run: Run) -> dict:
    traced = [r for r in run.ops if r["traced"] and r["ok"]]
    if not traced:
        return {}
    prog = [r["progress"] for r in traced]
    out = {"stream.trigger_ms": percentile([p["trigger_ms"] for p in prog], 0.5)}
    for ph in measure.PHASES:
        out[f"stream.{ph}_ms"] = percentile([p["phases_ms"][ph] for p in prog], 0.5)
    out["stream.driver_gap_ms"] = percentile([r["gap_ms"] for r in traced], 0.5)
    for kind in ("w1", "w2", "w3"):
        out[f"{kind}_stream.addBatch_ms"] = percentile(
            [r["progress"]["phases_ms"]["addBatch"] for r in traced if r["kind"] == kind], 0.5)
    out["state.update_ms"] = percentile([p["state_update_ms"] for p in prog], 0.5)
    out["state.commit_ms"] = percentile([p["state_commit_ms"] for p in prog], 0.5)
    out["state.rows_total"] = max(p["state_rows_total"] for p in prog)
    out["state.memory_bytes"] = max(p["state_memory_bytes"] for p in prog)
    hits = sum(p["state_cache_hits"] for p in prog)
    lookups = hits + sum(p["state_cache_misses"] for p in prog)
    out["state.cache_hit_ratio"] = hits / lookups if lookups else 0.0
    drains = {r["drain"] for r in traced}
    out["sink.output_rows"] = sum(p["sink_rows"] for p in prog) / max(len(drains), 1)
    return out


# ------------------------------------------------------------- metrics ---

WORKLOADS = {
    "batch_hotkey": lambda run: run_batch(run, wide=False),
    "batch_wide": lambda run: run_batch(run, wide=True),
    "stream_replay": run_stream,
}


def end_to_end(run: Run, peak_mb: float) -> dict:
    ops = [r for r in run.ops if r["round"] < MEASURED_ROUNDS]
    busy_s = sum(r["ms"] for r in ops) / 1000
    values = {
        "setup_s": run.setup_s,
        "ops_per_s": len(ops) / busy_s,
        "rows_per_s": sum(r["rows"] for r in ops) / busy_s,
        "op_ms_p50": measure.kind_p50((r["kind"], r["ms"]) for r in ops),
        "cpu_ms_per_op": sum(r["cpu_ms"] for r in ops) / len(ops),
        "peak_pss_mb": peak_mb,
    }
    return {name: (values[name], unit) for name, unit in END_TO_END}


def per_layer(run: Run) -> dict:
    got = dict(run.layer)
    if run.ops and "drain" in run.ops[0]:
        got.update(stream_layers(run))
    else:
        got.update(batch_layers(run))
    traced = [r["ms"] for r in run.ops if r["traced"]]
    plain = [r["ms"] for r in run.ops if not r["traced"]]
    got["trace.overhead_ms_per_op"] = percentile(traced, 0.5) - percentile(plain, 0.5)
    got["op_ms_p90"] = percentile([r["ms"] for r in run.ops], 0.9)
    got["op.samples"] = len(run.ops)
    got["op.tail_percentile"] = measure.highest_supported_percentile(len(run.ops)) * 100
    failed = sum(not r["ok"] for r in run.ops)
    got["error_rate"] = failed / len(run.ops)
    got.update(self_time_layers(run))
    # Layers a workload does not run read 0: the state store on batch runs,
    # the StatusTracker job counts on the stream run.
    return {name: (got.get(name, 0.0), unit) for name, unit in per_layer_names()}


def self_time_layers(run: Run) -> dict:
    """Self time per layer over the traced ops, in ms per op, and the
    table of shares printed to stderr."""
    spans = run.tracer.spans
    roots = [s for s in spans if s["name"] == "op"]
    if not roots:
        return {}
    totals: dict[str, float] = {}
    wall = 0.0
    for r in roots:
        wall += r["end"] - r["start"]
        for name, t in measure.self_time_by_layer(measure.descendants(spans, r["id"])).items():
            totals[name] = totals.get(name, 0.0) + t
    print(f"[perfbench] self time over {len(roots)} traced ops "
          f"({wall * 1000 / len(roots):.1f} ms wall per op):", file=sys.stderr)
    for name, t in sorted(totals.items(), key=lambda kv: -kv[1]):
        print(f"[perfbench]   {name:24s} {t * 1000 / len(roots):10.2f} ms/op "
              f"{100 * t / wall:6.1f} %", file=sys.stderr)
    print(f"[perfbench]   {'(sum)':24s} {sum(totals.values()) * 1000 / len(roots):10.2f} ms/op "
          f"{100 * sum(totals.values()) / wall:6.1f} %", file=sys.stderr)
    return {f"self.{name}_ms": totals.get(name, 0.0) * 1000 / len(roots) for name in SELF_LAYERS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args(argv)

    run = Run(args, args.run_dir)
    print(f"[perfbench] workload={args.workload} seed={args.seed} nproc={run.nproc} "
          f"parallelism={run.nproc} heap={HEAP}", file=sys.stderr)
    try:
        with measure.PeakSampler(os.getpid()) as mem:
            WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            run.spark.stop()
    if args.trace:
        run.tracer.write(os.path.join(os.environ["PERFBENCH_TRACE_DIR"],
                                      f"{args.workload}-{args.seed}.spans.json"))
    failed = sum(not r["ok"] for r in run.ops)
    if args.trace:
        metrics = per_layer(run)
    else:
        metrics = end_to_end(run, mem.peak_mb)
    result = {
        "correct": run.warm_ok and failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
