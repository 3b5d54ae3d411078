"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tier_batch --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout at ``local[nproc]``.  It builds its inputs
from ``--seed``, runs the workload's passes for ``--seconds`` (the first pass
is cold; at least one warm pass always runs), checks every output, and
prints two JSON lines: the full record (provenance, per-pass figures,
failures), then the result object ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run wraps the program's modules in spans, turns on Spark's
event log, and reports the per-layer metrics instead.  Everything it writes
goes under ``.perfbench_work/`` in the checkout and is removed at exit.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: program files the benchmark drives; without them it refuses to run
REQUIRED = ("hdstats_spark/__init__.py", "hdstats_oracle/__init__.py", "bench.py")
#: driver heap: the session default (24g) exceeds the 15 GB of RAM of the
#: 4-core VM the benchmark was sized on
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    def __init__(self, spark, tracer, work, seed, seconds, trace):
        from perfbench.workloads import Ops

        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.trace = seed, seconds, bool(trace)
        self.ops = Ops()
        self.check_s = 0.0  # wall time of the output checks

    @staticmethod
    def mark() -> tuple[float, float]:
        """(epoch seconds, perf_counter seconds) of one instant."""
        return time.time(), time.perf_counter()

    @staticmethod
    def elapsed(mark) -> float:
        return time.perf_counter() - mark[1]


# ------------------------------------------------------------ process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers share
    most of theirs) are split among the processes mapping them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed resident memory (PSS) of this process's descendants: the
    driver JVM and the Python workers it forks."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in descendants(me)))
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=10)


# ------------------------------------------------------------ provenance

def provenance(workload, seed, seconds, trace) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    n = nproc()
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "git_commit": commit,
        "nproc": n,
        "master": f"local[{n}]",
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


# ------------------------------------------------------------ metrics

def _median(xs):
    xs = [x for x in xs if x == x]
    if not xs:
        raise RuntimeError("no successful operation to measure")
    return statistics.median(xs)


def _geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(workload, raw, session_s, peak_rss_mb) -> dict:
    from perfbench.workloads import leaf_medians, tier_step_medians

    setup = session_s + _median(raw["gen_s"])
    if workload == "tier_batch":
        warm = _median(raw["passes"][1:])
        op_geomean = _geomean(tier_step_medians(raw["pass_metrics"]).values())
        points = _median([m["points"] for m in raw["pass_metrics"]])
        rows_per_s = points / warm
        cold = raw["passes"][0]
    else:
        med = leaf_medians(raw["passes"], raw["leaves"])
        warm = sum(med.values())
        op_geomean = _geomean(med.values())
        rows_per_s = raw["input_rows"] * len(med) / warm
        cold = sum(raw["passes"][0].values())
    vals = {
        "setup_s": (setup, "s"),
        "cold_pass_s": (cold, "s"),
        "warm_pass_s": (warm, "s"),
        "op_geomean_s": (op_geomean, "s"),
        "rows_per_s": (rows_per_s, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def detail(workload, raw) -> dict:
    from perfbench import stats
    from perfbench.workloads import KERNEL_LEAVES, leaf_medians, tier_step_medians

    if workload == "tier_batch":
        out = {
            "input_rows": raw["input_rows"],
            "input_convs": raw["input_convs"],
            "gen_s": raw["gen_s"],
            "passes_s": raw["passes"],
            "steal_share": raw["steal"],
            "pass_metrics": raw["pass_metrics"],
            "warm_pass": stats.summarize(raw["passes"][1:]),
            "warm_step_median_s": tier_step_medians(raw["pass_metrics"]),
        }
        if raw["stream"]:
            prog = [json.loads(p) for p in raw["stream"]["progress"]]
            out["stream"] = {
                "wall_s": raw["stream"]["wall_s"],
                "rows": raw["stream"]["rows"],
                "batch_s_excluding_batch0": stats.summarize(
                    p["batchDuration"] / 1e3 for p in prog if p["numInputRows"] > 0 and p["batchId"] > 0
                ),
            }
        return out
    warm = [t for p in raw["passes"][1:] for t in p.values()]
    med = leaf_medians(raw["passes"], raw["leaves"])
    return {
        "input_rows": raw["input_rows"],
        "input_users": raw["input_users"],
        "gen_s": raw["gen_s"],
        "leaves": raw["leaves"],
        "passes_s": raw["passes"],
        "steal_share": raw["steal"],
        "leaf_median_s": med,
        "kernel_share": sum(v for k, v in med.items() if k in KERNEL_LEAVES) / sum(med.values()),
        "leaf_warm": stats.summarize(warm),
        "note": "leaves that read a shared cache report its marginal cost",
    }


# ------------------------------------------------------------ run

def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full record to this JSON file")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> dict:
    """Point every scratch location of Spark, the JVM and Python at ``work``;
    returns the extra session settings."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        # a fixed-size heap (initial = max), touched at start: the heap is
        # then a constant part of the resident size, which moves with the
        # JVM's off-heap memory and the Python workers instead of with when
        # G1 first touches a region
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run(args, work) -> int:
    from perfbench import eventlog, layers, tracing
    from perfbench.workloads import WORKLOADS

    conf = prepare_environment(work)
    if args.trace:
        conf.update(eventlog.event_log_conf(os.path.join(work, "eventlog")))
    rss = RssSampler()
    rss.start()

    from hdstats_spark.session import get_spark

    n = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        app=f"perfbench-{args.workload}", cores=n, shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY, extra=conf,
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    meter = layers.instrument(tracer) if args.trace else None
    ctx = Context(spark, tracer, work, args.seed, args.seconds, args.trace)
    try:
        raw = WORKLOADS[args.workload](ctx)
        cached_mb = layers.cached_mb(spark) if args.trace else 0.0
    finally:
        stop_spark(spark)
        rss.stop()

    record = provenance(args.workload, args.seed, args.seconds, args.trace)
    record["ops"] = {
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "failed_op_share": ctx.ops.failed / max(1, ctx.ops.attempted),
        "failures": ctx.ops.failures,
    }
    record["detail"] = detail(args.workload, raw)
    record["detail"]["check_s"] = ctx.check_s
    record["end_to_end"] = end_to_end(args.workload, raw, session_s, rss.peak_kb / 1024.0)
    if args.trace:
        # measured windows on both clocks: epoch ms for the event log,
        # perf_counter seconds for the spans
        epoch = [(a[0] * 1e3, b[0] * 1e3, w) for a, b, w in raw["measured"]]
        perf = [(a[1], b[1], w) for a, b, w in raw["measured"]]
        spark_m = eventlog.parse_file(eventlog.find_log(os.path.join(work, "eventlog")), epoch)
        spark_m["spark.cached_mb"] = cached_mb
        record["per_layer"] = layers.per_layer(
            args.workload, raw, session_s, tracer, meter, spark_m, perf
        )
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps(record, default=str))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
