"""Benchmark launcher: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the root of a checkout.

It gives the run its own temp dirs for inputs, shuffle files and stream
checkpoints, starts ``harness.py`` in a new process group with the package
on ``PYTHONPATH`` (Spark's Python workers import it too), times a fixed
CPU probe before and after, removes every process and file the run left,
and prints the run's JSON result as the last line of stdout. It exits
non-zero, printing no result, when the package is missing or the run
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark"
WORKLOADS = ("batch_hotkey", "batch_wide", "stream_replay")
TIMEOUT_S = 150  # with clean-up, under the 180 s a run may take


def _group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = measure.stat_fields(int(name))
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(name))
    return out


def _end_group(pgid: int) -> None:
    """Wait for the run's process group to end: the JVM and its Python
    workers exit by themselves once the harness is gone; whatever is left
    after a grace period is terminated, then killed."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while _group_members(pgid):
            if sig is not None:
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    return
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        else:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    for d in ("local", "tmp", "in"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(trace_dir, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYTHONWARNINGS="ignore",  # pandas FutureWarnings from every stream fold
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # Both JVMs spark-submit starts: temp files in the run dir, and no
        # hsperfdata file in the system temp dir.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        PERFBENCH_TRACE_DIR=trace_dir,
    )
    probe_before = measure.box_probe_ms()
    load1 = os.getloadavg()[0]
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--run-dir", run_dir]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        _end_group(proc.pid)
        proc.communicate()
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    _end_group(proc.pid)  # the JVM and Python workers outlive the harness briefly
    shutil.rmtree(run_dir, ignore_errors=True)
    probe_after = measure.box_probe_ms()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    print(f"perfbench: box probe {probe_before:.1f} ms before, {probe_after:.1f} ms after, "
          f"load {load1:.2f}", file=sys.stderr)
    if args.trace:
        for name, value in (("box.probe_ms", probe_before), ("box.probe_after_ms", probe_after),
                            ("box.load1", load1)):
            result["metrics"][name]["value"] = value
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
