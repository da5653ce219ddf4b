"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The workload runs in this process on
Spark ``local[<nproc>]`` (``session.get_spark``), driven by one
closed-loop client. Inputs are generated from ``--seed`` under
``perfbench/.work``. The last line of standard output is one JSON object
``{correct, attempted, failed, metrics}``; the line before it holds the
workload's own figures and the run's environment.

A run measures whole blocks of operations (a block is the workload's
unit of work, the same mix of operations every time). ``--trace 0``
measures blocks until ``--seconds`` have passed, at least one, and
reports the end-to-end metrics. ``--trace 1`` runs a fixed number of
blocks traced, each between two untraced ones, reports the per-layer
metrics (including the tracing overhead), and writes the span file and
its table under ``perfbench/.traces``. The exit code is 1 when any
answer was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

START = time.perf_counter()  # process start, for the report's phase times

ROOT = os.getcwd()
PACKAGE = "bayesiandatafusion_jl_spark"
RETAINED = 1_000_000  # status-store retention of a traced run: keep every job
# (name, unit) of the metrics an untraced run reports, in BENCHMARK.json order
END_TO_END = (("setup_s", "s"), ("items_per_s", "1/s"))


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree(root: int) -> set[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(pid))
        out, todo = set(), [root]
        while todo:
            pid = todo.pop()
            out.add(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def environment(spark, nproc: int, load_start: tuple) -> dict:
    import pyarrow
    import pyspark

    conf = spark.conf
    return {
        "nproc": nproc,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "git_commit": git_commit(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
    }


def isolate(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        submit += [f"--conf spark.ui.retainedJobs={RETAINED}",
                   f"--conf spark.ui.retainedStages={RETAINED}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def stop_spark(spark, rss: PeakRss) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    before = rss.tree(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def run_ops(ops, tracer, outcomes, durations, until) -> tuple[int, float]:
    """Run ``ops`` until ``until(op_just_run)``; returns the items done and
    the seconds the ops took. Each op is one closed-loop operation; its
    check runs after its timer."""
    items, busy = 0, 0.0
    for op in ops:
        t0 = time.perf_counter()
        try:
            with tracer.span(op.kind, tracer.new_request()):
                result = op.run()
            failed = False
        except Exception:  # a failed operation is counted, the loop goes on
            traceback.print_exc()
            failed = True
        took = time.perf_counter() - t0
        durations[op.kind].append(took)
        busy += took
        ok = outcomes.record(not failed and bool(op.check(result)), op.kind)
        items += op.items if ok else 0
        if op.ends_block and until(op):
            break
    return items, busy


def run_block(ops, tracer, outcomes, durations) -> tuple[int, float]:
    """Run the ops of one block: ``(items, seconds)``."""
    return run_ops(ops, tracer, outcomes, durations, lambda op: True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.summarize import PER_LAYER, layer_metrics, table
    from perfbench.trace import Outcomes, Tracer, median
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    # the previous run's files are deleted now, not at its end: on a slow
    # disk an unlink waits for the file's pending writeback, which took
    # seconds to tens of seconds right after a run
    work = os.path.join(ROOT, "perfbench", ".work", args.workload)
    t0 = time.perf_counter()
    shutil.rmtree(work, ignore_errors=True)
    clean_s = time.perf_counter() - t0
    isolate(work, bool(args.trace))

    from bayesiandatafusion_jl_spark.session import get_spark

    outcomes = Outcomes()
    durations: dict[str, list[float]] = defaultdict(list)
    phases: dict[str, float] = {}  # wall seconds of the run's phases
    phases["imports"] = time.perf_counter() - START - clean_s
    phases["clean"] = clean_s
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=str(nproc))
        spark_start_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, enabled=False)
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, outcomes)
            t0 = time.perf_counter()
            wl.generate()
            phases["generate"] = time.perf_counter() - t0
            setups = []
            for i in range(1 if args.trace else wl.setup_repeats):
                t0 = time.perf_counter()
                wl.setup(i)
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            phases["warmup"] = time.perf_counter() - t0
            ops = wl.ops()
            blocks: list[tuple[int, float]] = []  # (items, seconds) per timed block
            if args.trace:
                # untraced and traced blocks alternate, untraced first and
                # last; the first untraced block pays the process's warm-up
                # and is not compared
                untraced_s: list[float] = []
                for i in range(2 * wl.traced_blocks + 1):
                    tracer.enabled = i % 2 == 1
                    if tracer.enabled:
                        blocks.append(run_block(ops, tracer, outcomes, durations))
                    else:
                        untraced_s.append(run_block(ops, tracer, outcomes, defaultdict(list))[1])
                tracer.enabled = False
                del untraced_s[0]
            else:
                # whole blocks until --seconds have passed, at least one
                end = time.perf_counter() + args.seconds
                while not blocks or time.perf_counter() < end:
                    blocks.append(run_block(ops, tracer, outcomes, durations))
            t0 = time.perf_counter()
            wl.finish()
            phases["finish"] = time.perf_counter() - t0
            report = wl.report(durations)
            layer_info = wl.layer_info()
            env = environment(spark, nproc, load_start)
        finally:
            t0 = time.perf_counter()
            stop_spark(spark, rss)
            phases["stop"] = time.perf_counter() - t0
    phases["total"] = time.perf_counter() - START

    items_per_s = median([items / secs for items, secs in blocks])
    named = {
        "setup_s": {"value": median(setups), "unit": "s"},
        "items_per_s": {"value": items_per_s, "unit": "1/s"},
        "failed_frac": {"value": outcomes.failed_frac, "unit": "ratio"},
        "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        **report,
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": named, "env": env, "spark_start_s": spark_start_s, "setup_runs_s": setups,
        "phases_s": phases, "blocks": blocks,
        "op_s": dict(durations), "errors": outcomes.errors[:20],
    }))
    if args.trace:
        traces = os.path.join(ROOT, "perfbench", ".traces")
        os.makedirs(traces, exist_ok=True)
        stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".jsonl")
        layer_info["bookkeeping_s"] = tracer.bookkeeping_s
        values = layer_metrics(tracer.spans, [secs for _, secs in blocks], untraced_s, layer_info)
        with open(stem + ".txt", "w") as f:
            f.write(table(tracer.spans) + "\n")
        print(table(tracer.spans), file=sys.stderr)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in PER_LAYER}
    else:
        values = {"setup_s": median(setups), "items_per_s": items_per_s}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    correct = outcomes.failed == 0
    print(json.dumps({"correct": correct, "attempted": outcomes.attempted,
                      "failed": outcomes.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
