"""Per-layer metrics of the traced run.

``instrument`` wraps the program's modules (spans for every public call, see
tracing.py) and meters icelite's writes; ``per_layer`` reduces the spans,
the meter, the workload's raw figures and the event-log figures to the
fixed list of per-layer metrics.  Every workload reports every name; a layer
the workload does not exercise reports 0.

Totals (counts, volumes, self times) are taken inside the workload's
measured windows only, weighted per warm pass (workloads.py), so they do not
grow with the number of passes that fit in a run and leave the output
checks out.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench.stats import overlap, weight_at
from perfbench.tracing import self_times, uncovered_share
from perfbench.workloads import SUITE_LEAVES, TIER_STEPS, leaf_medians, tier_step_medians

#: instrumented program modules and the layer their spans are charged to
LAYER_MODULES = {
    "bench": "bench",
    "hdstats_spark.session": "session",
    "hdstats_spark.datagen": "datagen",
    "hdstats_spark.plans.pipeline": "pipeline",
    "hdstats_spark.icelite": "icelite",
    "hdstats_spark.streaming.stream": "stream",
    "hdstats_spark.driver_queries": "queries",
    "hdstats_spark.operators.rollup": "operators",
    "hdstats_spark.operators.series": "operators",
    "hdstats_spark.operators.gapfill": "operators",
    "hdstats_spark.operators.channels": "operators",
}

#: the benchmark's own spans; every other layer is the program's
OWN_LAYERS = ("perfbench", "leaf", "query_build", "query_exec")

#: layers whose self time is reported (``self.<layer>_s``)
SELF_LAYERS = OWN_LAYERS + tuple(dict.fromkeys(LAYER_MODULES.values()))

WRITE_METHODS = ("append", "overwrite_partitions", "upsert", "compact_partition")

SPARK_METRICS = (
    "spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb", "spark.python_sent_mb",
    "spark.python_recv_mb", "spark.task_skew", "spark.driver_gap_s", "spark.cached_mb",
)


class IceliteMeter:
    """What icelite's write paths committed: one (end time, write_s,
    manifest_s, files, bytes) row per commit, and the end times of the
    commits that lost to a concurrent one."""

    def __init__(self):
        self.commits: list[tuple[float, float, float, int, int]] = []
        self.conflicts: list[float] = []

    def totals(self, windows) -> dict[str, float]:
        """Weighted sums over the commits that ended inside ``windows``."""
        out = dict.fromkeys(("commits", "write_s", "manifest_s", "files_written", "bytes_written"), 0.0)
        for t, write_s, manifest_s, files, nbytes in self.commits:
            w = weight_at(t, windows)
            out["commits"] += w
            out["write_s"] += w * write_s
            out["manifest_s"] += w * manifest_s
            out["files_written"] += w * files
            out["bytes_written"] += w * nbytes
        out["commit_conflicts"] = sum(weight_at(t, windows) for t in self.conflicts)
        return out


def _delta_bytes(table, snap) -> int:
    total = 0
    for part in ((getattr(snap, "delta", None) or {}).get("parts") or {}).values():
        for f in list(part.get("files", ())) + list(part.get("deletes", ())):
            path = f if isinstance(f, str) else f.get("path", "")
            try:
                total += os.path.getsize(os.path.join(table.root, path))
            except OSError:
                pass
    return total


def instrument(tracer) -> IceliteMeter:
    """Wrap the program's modules in spans and meter icelite's writes."""
    import functools
    import importlib

    for name, layer in LAYER_MODULES.items():
        tracer.instrument({layer: importlib.import_module(name)}, also_in=("hdstats_spark",))

    from hdstats_spark import icelite

    meter = IceliteMeter()
    cls = icelite.IceliteTable

    def metered(fn):
        @functools.wraps(fn)
        def call(self, *args, **kwargs):
            self.last_write_timings = {}
            snap = fn(self, *args, **kwargs)
            if snap is not None:
                t = self.last_write_timings
                meter.commits.append((
                    time.perf_counter(), t.get("write_s", 0.0), t.get("manifest_s", 0.0),
                    t.get("n_files", 0), _delta_bytes(self, snap),
                ))
            return snap

        return call

    for m in WRITE_METHODS:
        setattr(cls, m, metered(getattr(cls, m)))

    commit = cls._commit

    @functools.wraps(commit)
    def counted_commit(self, *args, **kwargs):
        try:
            return commit(self, *args, **kwargs)
        except icelite.CommitConflict:
            meter.conflicts.append(time.perf_counter())
            raise

    cls._commit = counted_commit
    return meter


def cached_mb(spark) -> float:
    """Bytes Spark holds in cached RDD/Dataset blocks, from the block
    manager's status (no job)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / float(1 << 20)


def _ancestors(spans):
    by_id = {s.id: s for s in spans}

    def chain(s):
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
            yield s

    return chain


def _top_level(spans, layer, chain, names, under=None) -> list[tuple[float, float]]:
    """(start, end) of the spans of ``layer`` named one of ``names`` that are
    not nested in another span of that layer (with ``under``: only those
    below the benchmark span of that name)."""
    out = []
    for s in spans:
        if s.layer != layer or s.name.rsplit(".", 1)[-1] not in names:
            continue
        up = list(chain(s))
        if any(a.layer == layer for a in up):
            continue
        if under and under not in {a.name for a in up}:
            continue
        out.append((s.start, s.end))
    return out


def per_layer(workload, raw, session_s, tracer, meter, spark_m, windows) -> dict:
    """The per-layer metrics; ``windows`` are the measured windows
    [(start, end, weight)] on the tracer's clock."""
    spans = tracer.spans
    chain = _ancestors(spans)
    m: dict[str, tuple[float, str]] = {}

    m["session.start_s"] = (session_s, "s")
    m["datagen.gen_s"] = (statistics.median(raw["gen_s"]), "s")
    m["datagen.rows"] = (raw["input_rows"], "count")
    m["datagen.arrivals_s"] = (raw.get("arrivals_s", 0.0), "s")

    pm = raw.get("pass_metrics") or []
    steps = tier_step_medians(pm) if len(pm) > 1 else dict.fromkeys(("ingest", *TIER_STEPS), 0.0)
    m["pipeline.ingest_s"] = (steps["ingest"], "s")
    for t in ("1m", "1h", "1d"):
        m[f"pipeline.tier_{t}_s"] = (steps[t], "s")
    m["pipeline.gm_s"] = (steps["gm"], "s")
    warm = pm[1:]
    m["pipeline.points"] = (statistics.median(x["points"] for x in warm) if warm else 0, "count")
    m["pipeline.raw_rows"] = (statistics.median(x["raw"]["rows"] for x in warm) if warm else 0, "count")

    ice = meter.totals(windows)
    for k in ("commits", "files_written", "commit_conflicts"):
        m[f"icelite.{k}"] = (ice[k], "count")
    m["icelite.write_s"] = (ice["write_s"], "s")
    m["icelite.manifest_s"] = (ice["manifest_s"], "s")
    m["icelite.bytes_written"] = (ice["bytes_written"], "bytes")
    for k, names in (
        ("read", {"read", "changes_between"}),
        ("compact", {"compact_partition"}),
        ("expire", {"expire_snapshots"}),
    ):
        m[f"icelite.{k}_s"] = (overlap(_top_level(spans, "icelite", chain, names), windows), "s")

    prog = [json.loads(p) for p in (raw.get("stream") or {}).get("progress", [])]
    data = [p for p in prog if p["numInputRows"] > 0]

    def dur(*keys):
        return sum(p["durationMs"].get(k, 0) for p in prog for k in keys) / 1e3

    m["stream.batches"] = (len(data), "count")
    later = [p["batchDuration"] / 1e3 for p in data if p["batchId"] > 0]
    m["stream.batch_p50_s"] = (statistics.median(later) if later else 0.0, "s")
    m["stream.add_batch_s"] = (dur("addBatch"), "s")
    m["stream.query_planning_s"] = (dur("queryPlanning"), "s")
    m["stream.wal_commit_s"] = (dur("walCommit"), "s")
    m["stream.offsets_s"] = (dur("latestOffset", "getBatch", "commitOffsets"), "s")
    replay = "perfbench.stream_replay"
    for k, names in (
        ("append", {"append"}),
        ("cascade", {"overwrite_partitions", "read", "compact_partition", "expire_snapshots"}),
    ):
        m[f"stream.sink_{k}_s"] = (overlap(_top_level(spans, "icelite", chain, names, replay), windows), "s")
    m["stream.state_rows"] = (
        max((sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])) for p in prog), default=0),
        "count",
    )

    if workload == "query_suite":
        build = sum(statistics.median(v[1:] or v) for v in raw["build"].values() if v)
        execute = sum(statistics.median(v[1:] or v) for v in raw["exec"].values() if v)
        leaf = leaf_medians(raw["passes"], raw["leaves"])
    else:
        build = execute = 0.0
        leaf = {}
    m["query.build_s"] = (build, "s")
    m["query.exec_s"] = (execute, "s")
    for name in SUITE_LEAVES:
        m[f"leaf.{name}_s"] = (leaf.get(name, 0.0), "s")

    for k in SPARK_METRICS:
        unit = "count" if k in ("spark.jobs", "spark.tasks") else (
            "ratio" if k == "spark.task_skew" else ("MB" if k.endswith("_mb") else "s")
        )
        m[k] = (spark_m.get(k, 0.0), unit)

    st = self_times(spans, windows)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (st.get(layer, 0.0), "s")
    program = [s for s in spans if s.layer not in OWN_LAYERS]
    calls = sum(weight_at(s.start, windows) for s in spans)
    m["trace.uncovered_share"] = (uncovered_share(program, windows), "share")
    m["trace.calls"] = (calls, "count")
    m["trace.overhead_est_s"] = (calls * tracer.calibrate(), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
