"""The benchmark's workloads.

Each workload sets up its inputs, runs passes until ``seconds`` have gone by
(the first pass is the cold one; at least ``MIN_PASSES`` always run), checks
every pass's output, and returns its raw figures.  An operation is one tier
pass, one micro-batch or one leaf execution; a raised error or a failed
output check counts it as failed.

Each workload also returns its *measured windows*: the intervals in which
the program ran one of its warm operations, each weighted so that the
traced run's totals come out per warm pass (the stream replay, run once,
weighs 1).  The output checks run outside these windows and under their
own Spark job group, so the per-layer figures do not count them.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
import traceback

import numpy as np

from perfbench import inputs

#: tier_batch input: whole conversations of gen_transcripts(TIER_CANDIDATES,
#: seed) starting in the first TIER_DAYS days, up to these turn budgets for
#: the hot (1% of conversations, up to 2000 turns) and the short ones
TIER_CANDIDATES = 4000
TIER_DAYS = 7
TIER_HOT_TURNS = 6000
TIER_SHORT_TURNS = 15000
#: the tier builds of one TierPipeline pass, as keys of its metrics dict
TIER_STEPS = ("1m", "1h", "1d", "gm")
#: arrival files (= non-empty micro-batches) in the streaming replay; the
#: sink compacts once, after the last one
STREAM_FILES = 3
#: conversations whose composite row is checked against the oracle per pass
GM_SAMPLE = 6

#: query_suite input: an events table of the repository's test-table shape
#: (sf0.001 / sf0.01 / sf0.1 hold 1000 / 10000 / 100000 events of 15 / 150 /
#: 1500 users) at scale factor 0.003
SUITE_EVENTS = 3000
SUITE_USERS = 45
#: the bench.HEADLINE leaves the suite runs, in HEADLINE order: the cached
#: minute tier, its forward-fill and hourly-mean readers, and the MAD,
#: symmetry and DTW kernels.  All read only ``events``.  change_features is
#: left out: some of its outputs are exact 6-dp rounding ties (a sum of
#: 2-dp values over 32 or 64 diffs) that the program and DuckDB round
#: different ways on about one seed in 20, so it would fail runs at random.
SUITE_LEAVES = (
    "rollup_1m",
    "gapfill_locf",
    "wiener_smooth",
    "geomedian_mads",
    "symmetry",
    "dtw_area",
)

#: leaves with no oracle_sql text: each pass, their output must hold one row
#: per user, and a seeded sample of users must match hdstats_oracle run on
#: the leaves' own dense hourly tier (rtol=atol=1e-4)
KERNEL_LEAVES = ("geomedian_mads", "symmetry", "dtw_area")
KERNEL_SAMPLE = 4
#: dtw_area's Sakoe-Chiba band (driver_queries.q_dtw_area)
DTW_WINDOW = 8

#: setups per run; setup_s reports their median.  A tier input takes 3 s
#: to regenerate, which buys a warm pass instead; the events table is cheap.
SETUP_REPEATS = {"tier_batch": 1, "query_suite": 3}
#: passes per run at least, whatever --seconds says: the cold one plus warm
#: ones (a run has to fit about a minute; see README.md, "Run budget")
MIN_PASSES = {"tier_batch": 3, "query_suite": 4}


class Ops:
    """Operations attempted and failed, with the first lines of each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {why}"[:500])


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot, from /proc/stat;
    stolen ticks are time the hypervisor ran something else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(a, b) -> float:
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def _error(e: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(e), e)).strip()


@contextlib.contextmanager
def checking(ctx):
    """Run an output check: a benchmark span, and a Spark job group that the
    event-log parser leaves out; its time adds to ``ctx.check_s``."""
    from perfbench.eventlog import CHECK_GROUP

    sc = ctx.spark.sparkContext
    sc.setJobGroup(CHECK_GROUP, "perfbench output check")
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("perfbench.check", "perfbench"):
            yield
    finally:
        ctx.check_s += time.perf_counter() - t0
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def per_warm_pass(windows: list) -> list:
    """(start mark, end mark) windows of the warm operations, each weighted
    1/(number of warm passes); ``windows`` holds one list per warm pass."""
    return [(a, b, 1.0 / len(windows)) for ops in windows for a, b in ops]


# ---------------------------------------------------------------- digests

def tier_digests(tiers: dict) -> dict[str, tuple[int, int]]:
    """Order-insensitive content digest of each tier DataFrame, (rows, sum of
    64-bit row hashes over conv_id, bucket and the channels as longs), all
    computed in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    from hdstats_spark.schema import CHANNELS

    cols = ["conv_id", "bucket", *[F.col(c).cast("long") for c in CHANNELS]]
    tagged = [df.select(F.lit(g).alias("tier"), F.xxhash64(*cols).alias("h")) for g, df in tiers.items()]
    rows = (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    got = {r["tier"]: (int(r["n"]), int(r["s"])) for r in rows}
    return {g: got.get(g, (0, 0)) for g in tiers}


# ---------------------------------------------------------------- tier_batch

def _gm_oracle(m1_pdf, conv_ids) -> dict:
    """hdstats_oracle composite (maxiters=20, the tier's setting) per conv."""
    import hdstats_oracle as hdo
    from hdstats_spark.schema import CHANNELS

    out = {}
    for cid in conv_ids:
        rows = m1_pdf[m1_pdf.conv_id == cid].sort_values("bucket")
        X = rows[list(CHANNELS)].to_numpy(dtype=np.float32).T  # (p, n)
        gm = hdo.nangeomedian(X, maxiters=20)
        X4, g3 = X[None, None], gm[None, None]
        out[cid] = {
            "gm": gm,
            "emad": hdo.emad_pcm(X4, g3)[0, 0],
            "smad": hdo.smad_pcm(X4, g3)[0, 0],
            "bcmad": hdo.bcmad_pcm(X4, g3)[0, 0],
        }
    return out


def _check_gm(got_pdf, expect) -> str:
    from hdstats_spark.schema import CHANNELS

    got = got_pdf.set_index("conv_id")
    for cid, e in expect.items():
        if cid not in got.index:
            return f"gm row missing for {cid}"
        g = got.loc[cid]
        pairs = [(np.array([g[f"gm_{c}"] for c in CHANNELS], dtype=np.float32), e["gm"])]
        pairs += [(np.float32(g[k]), e[k]) for k in ("emad", "smad", "bcmad")]
        for a, b in pairs:
            if not np.allclose(a, b, rtol=1e-4, atol=1e-4, equal_nan=True):
                return f"gm mismatch for {cid}: {a} vs {b}"
    return ""


def tier_batch(ctx) -> dict:
    """TierPipeline.run(phase="all", with_composite=True) on a fresh root per
    pass.  The traced run then replays the same input through the streaming
    cascade (the stream layer's figures are per-layer only)."""
    from pyspark.sql import functions as F

    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.operators.channels import channelize
    from hdstats_spark.operators.rollup import rollup_raw
    from hdstats_spark.plans.pipeline import TierPipeline

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    gen_s = []
    for k in range(SETUP_REPEATS["tier_batch"]):
        with tr.span("perfbench.setup", "perfbench"):
            t0 = time.perf_counter()
            path = os.path.join(ctx.work, f"transcripts{k}")
            df, n_convs = inputs.select_transcripts(
                spark, TIER_CANDIDATES, ctx.seed, TIER_DAYS, TIER_HOT_TURNS, TIER_SHORT_TURNS
            )
            df.write.parquet(path)
            gen_s.append(time.perf_counter() - t0)
    transcripts = spark.read.parquet(path)
    n_rows = transcripts.count()
    arrivals, arrivals_s = os.path.join(ctx.work, "arrivals"), 0.0
    if ctx.trace:
        with tr.span("perfbench.setup", "perfbench"):
            t0 = time.perf_counter()
            inputs.write_arrivals(transcripts, arrivals, STREAM_FILES)
            arrivals_s = time.perf_counter() - t0

    expect: dict = {}

    def expected() -> dict:
        """Tiers straight from raw and the oracle composite of a seeded sample
        of conversations; computed at the first check, so that the cold pass
        is the first to run the tier operators in the session, and every
        pass is held to them."""
        if not expect:
            ch = channelize(transcripts)
            expect["tiers"] = tier_digests({g: rollup_raw(ch, g) for g in ("1m", "1h", "1d")})
            m1 = rollup_raw(ch, "1m")
            counts = m1.groupBy("conv_id").count().filter(F.col("count") >= 3).orderBy("conv_id")
            eligible = [r["conv_id"] for r in counts.collect()]
            rng = np.random.default_rng(ctx.seed)
            picks = rng.choice(len(eligible), size=min(GM_SAMPLE, len(eligible)), replace=False)
            expect["sample"] = sample = sorted(eligible[i] for i in picks)
            expect["gm"] = _gm_oracle(m1.filter(F.col("conv_id").isin(sample)).toPandas(), sample)
        return expect

    passes, pass_metrics, digests, steal, warm = [], [], None, [], []
    window0 = ctx.mark()
    while len(passes) < MIN_PASSES["tier_batch"] or ctx.elapsed(window0) < ctx.seconds:
        root = os.path.join(ctx.work, f"tiers{len(passes)}")
        try:
            with tr.span("perfbench.tier_pass", "perfbench"):
                c0, m0 = cpu_ticks(), ctx.mark()
                m = TierPipeline(spark, root).run(transcripts, phase="all", with_composite=True)
                m1 = ctx.mark()
                steal.append(steal_share(c0, cpu_ticks()))
        except Exception as e:  # a failed pass is counted, and the run goes on
            ops.record(f"tier pass {len(passes)}", False, _error(e))
            passes.append(math.nan)
            steal.append(math.nan)
            continue
        passes.append(m1[1] - m0[1])
        pass_metrics.append(m)
        if len(passes) > 1:
            warm.append([(m0, m1)])
        with checking(ctx):
            why = ""
            try:
                digests = tier_digests({
                    g: IceliteTable(os.path.join(root, f"tier_{g}")).read(spark)
                    for g in ("1m", "1h", "1d")
                })
                want = expected()
                bad = [g for g in digests if digests[g] != want["tiers"][g]]
                if bad:
                    why = f"tiers {bad} differ from a direct raw rollup"
                else:
                    gm = IceliteTable(os.path.join(root, "tier_gm")).read(spark)
                    gm = gm.filter(F.col("conv_id").isin(want["sample"])).toPandas()
                    why = _check_gm(gm, want["gm"])
            except Exception as e:
                why = _error(e)
            ops.record(f"tier pass {len(passes) - 1}", not why, why)
    stream = None
    if ctx.trace:
        with checking(ctx):
            batch_tiers = digests or expected()["tiers"]
        stream = _stream_replay(ctx, arrivals, batch_tiers)
    measured = per_warm_pass(warm)
    if stream:
        measured.append((*stream.pop("window"), 1.0))
    return {
        "gen_s": gen_s,
        "arrivals_s": arrivals_s,
        "input_rows": n_rows,
        "input_convs": n_convs,
        "passes": passes,
        "steal": steal,
        "pass_metrics": pass_metrics,
        "measured": measured,
        "stream": stream,
    }


def _stream_replay(ctx, arrivals: str, batch_digests: dict) -> dict:
    """Closed-loop replay: one arrival file per trigger, each trigger after
    the previous commit; the streamed tiers must equal the batch tiers."""
    from hdstats_spark.icelite import IceliteTable
    from hdstats_spark.streaming.stream import run_stream_to_icelite

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    root = os.path.join(ctx.work, "stream", "tier_1m")
    progress, why = [], ""
    m0 = ctx.mark()
    try:
        with tr.span("perfbench.stream_replay", "perfbench"):
            q = run_stream_to_icelite(
                spark, arrivals, os.path.join(ctx.work, "stream", "ckpt"), root,
                watermark="0 seconds", cascade=True, compact_every=STREAM_FILES,
            )
            try:
                while True:
                    q.processAllAvailable()
                    if not q.status["isDataAvailable"]:
                        break
            finally:
                q.stop()
            progress = list(q.recentProgress)
    except Exception as e:
        why = _error(e)
    m1 = ctx.mark()
    data = [p for p in progress if p.numInputRows > 0]
    if not why and len(data) != STREAM_FILES:
        why = f"{len(data)} non-empty micro-batches for {STREAM_FILES} arrival files"
    if not why:
        with checking(ctx):
            tables = {"1m": root, "1h": root + "_1h", "1d": root + "_1d"}
            try:
                got = tier_digests({g: IceliteTable(p).read(spark) for g, p in tables.items()})
                bad = [g for g in got if got[g] != batch_digests[g]]
                if bad:
                    why = f"streamed tiers {bad} differ from the batch TierPipeline tiers"
            except Exception as e:
                why = _error(e)
    for p in data or [None] * STREAM_FILES:
        ops.record(f"micro-batch {p.batchId if p else '?'}", not why, why)
    return {
        "wall_s": m1[1] - m0[1],
        "window": (m0, m1),
        "progress": [p.json for p in progress],
        "rows": sum(p.numInputRows for p in data),
    }


# ---------------------------------------------------------------- query_suite

def compare(got, want) -> str:
    """'' when a leaf's output matches its oracle by the rule of
    tools/parity.py: row count, column names, canonical rows (floats at 6 dp,
    order-insensitive)."""
    from tools.parity import canon

    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    a, b = canon(got), canon(want)
    if a != b:
        return f"values differ, first: {next((x, y) for x, y in zip(a, b) if x != y)}"
    return ""


def kernel_expectations(dense, chans, sample) -> dict:
    """hdstats_oracle's output of each kernel leaf for the ``sample`` users,
    from the leaves' dense hourly tier (pandas: conv_id, bucket, t and the
    channels), as {leaf: DataFrame indexed by conv_id}."""
    import pandas as pd

    import hdstats_oracle as hdo

    # dtw_area's reference: the per-t median of n_events over every series
    ref = dense.groupby("t")["n_events"].median().sort_index().to_numpy(np.float64)
    gm_rows, sym_rows, dtw_rows = {}, {}, {}
    for cid in sample:
        X = dense[dense.conv_id == cid].sort_values("bucket")[list(chans)].to_numpy(np.float32).T
        gm = hdo.nangeomedian(X)
        X4, g3 = X[None, None], gm[None, None]
        gm_rows[cid] = {
            "n": X.shape[1],
            **{f"gm_{c}": gm[j] for j, c in enumerate(chans)},
            "emad": hdo.emad_pcm(X4, g3)[0, 0],
            "smad": hdo.smad_pcm(X4, g3)[0, 0],
            "bcmad": hdo.bcmad_pcm(X4, g3)[0, 0],
        }
        sym_rows[cid] = {"symmetry": hdo.symmetry(X4)[0, 0]}
        x = X[list(chans).index("n_events")].astype(np.float64)
        d = hdo.local_dtw(ref[: len(x)].reshape(-1, 1), x.reshape(-1, 1), DTW_WINDOW)[0]
        dtw_rows[cid] = {"dtw_dist": d}
    return {
        leaf: pd.DataFrame.from_dict(rows, orient="index")
        for leaf, rows in (("geomedian_mads", gm_rows), ("symmetry", sym_rows), ("dtw_area", dtw_rows))
    }


def check_kernel(got, want, n_series: int, key: str = "conv_id") -> str:
    """'' when a kernel leaf's output holds one row per series and matches
    ``want`` (oracle rows indexed by series key) at rtol=atol=1e-4."""
    if len(got) != n_series or got[key].nunique() != n_series:
        return f"{len(got)} rows ({got[key].nunique()} series) for {n_series} series"
    g = got.set_index(got[key].astype(str))
    for cid, row in want.iterrows():
        if cid not in g.index:
            return f"no row for series {cid}"
        for col, v in row.items():
            if col not in g.columns:
                return f"no column {col}"
            a = float(g.at[cid, col])
            if not np.isclose(a, v, rtol=1e-4, atol=1e-4, equal_nan=True):
                return f"{col} of series {cid}: {a} vs oracle {v}"
    return ""


def query_suite(ctx) -> dict:
    import duckdb

    import bench
    from hdstats_spark import driver_queries as dq

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    sf_dir = os.path.join(ctx.work, "sf")
    gen_s = []
    for _ in range(SETUP_REPEATS["query_suite"]):
        with tr.span("perfbench.setup", "perfbench"):
            t0 = time.perf_counter()
            n_users = inputs.write_events(sf_dir, ctx.seed, SUITE_EVENTS, SUITE_USERS)
            gen_s.append(time.perf_counter() - t0)

    qs = {**dq.queries(), **dq.bench_only_queries()}
    leaves = [n for n in bench.HEADLINE if n in SUITE_LEAVES]
    oracle_sql = dq.oracles()
    with checking(ctx):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        want = {n: con.sql(oracle_sql[n]).df() for n in leaves if n in oracle_sql}
        con.close()
    kernel_want: dict = {}

    def check(name, df) -> str:
        if name in want:
            return compare(df.toPandas(), want[name])
        if name not in KERNEL_LEAVES:
            return ""
        if not kernel_want:
            # after the cold pass has filled the leaves' cached dense tier:
            # the leaves' own input, as the repository's kernel tests use it
            dense, chans = dq._dense_event_series(spark, sf_dir)
            dense = dense.toPandas()
            ids = sorted(dense.conv_id.unique())
            rng = np.random.default_rng(ctx.seed)
            sample = [ids[i] for i in sorted(rng.choice(len(ids), KERNEL_SAMPLE, replace=False))]
            kernel_want.update(kernel_expectations(dense, chans, sample))
        return check_kernel(df.toPandas(), kernel_want[name], n_users)

    passes: list[dict] = []
    build: dict[str, list] = {n: [] for n in leaves}
    execute: dict[str, list] = {n: [] for n in leaves}
    window0 = ctx.mark()
    steal, warm = [], []
    while len(passes) < MIN_PASSES["query_suite"] or ctx.elapsed(window0) < ctx.seconds:
        # the leaves run back to back in HEADLINE order, as in bench.py; their
        # outputs are checked after the pass
        times, ops_windows, outputs, c0 = {}, [], {}, cpu_ticks()
        for name in leaves:
            try:
                with tr.span(f"leaf.{name}", "leaf"):
                    m0 = ctx.mark()
                    with tr.span("query.build", "query_build"):
                        df = qs[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("query.exec", "query_exec"):
                        bench.run_query(df)
                    m1 = ctx.mark()
            except Exception as e:
                outputs[name] = e
                continue
            outputs[name] = df
            times[name] = m1[1] - m0[1]
            build[name].append(t1 - m0[1])
            execute[name].append(m1[1] - t1)
            ops_windows.append((m0, m1))
        steal.append(steal_share(c0, cpu_ticks()))
        for name, df in outputs.items():
            if isinstance(df, Exception):
                why = _error(df)
            else:
                try:
                    with checking(ctx):
                        why = check(name, df)
                except Exception as e:
                    why = _error(e)
            ops.record(f"leaf {name} pass {len(passes)}", not why, why)
        if passes:
            warm.append(ops_windows)
        passes.append(times)
    return {
        "gen_s": gen_s,
        "input_rows": SUITE_EVENTS,
        "input_users": n_users,
        "leaves": leaves,
        "passes": passes,
        "steal": steal,
        "build": build,
        "exec": execute,
        "measured": per_warm_pass(warm),
    }


def leaf_medians(passes: list[dict], leaves) -> dict[str, float]:
    """Per-leaf median over the warm passes (all passes after the first)."""
    warm = passes[1:]
    return {
        n: statistics.median(p[n] for p in warm if n in p)
        for n in leaves
        if any(n in p for p in warm)
    }


def tier_step_medians(pass_metrics: list[dict]) -> dict[str, float]:
    """Median warm time (over all passes after the first) of each step of a
    tier pass: ingest (the pass minus its tier builds), the 1m, 1h and 1d
    rollups and the gm composite, from TierPipeline.run's metrics dicts."""
    warm = pass_metrics[1:]

    def med(f):
        return statistics.median(f(m) for m in warm)

    out = {t: med(lambda m, t=t: m[t]["elapsed_s"]) for t in TIER_STEPS}
    out["ingest"] = med(lambda m: m["elapsed_s"] - sum(m[t]["elapsed_s"] for t in TIER_STEPS))
    return out


WORKLOADS = {"tier_batch": tier_batch, "query_suite": query_suite}
