"""Seeded benchmark inputs.

* ``select_transcripts``: whole conversations of
  ``datagen.gen_transcripts(candidates, seed)`` that start in the first week,
  taken in conv_id order up to fixed budgets of hot and short turns, so every
  seed gives the same input size and skew.
* ``write_events``: an ``events`` table with the schema and shape of the
  repository's test tables, drawn from ``numpy.random.default_rng(seed)``.
  The shape was read off the sf0.001, sf0.01 and sf0.1 events tables, which
  hold 1000, 10000 and 100000 rows of 15, 150 and 1500 users: 66.7 events
  per user, the users uniform (45 to 99 events per user at sf0.1); ts
  uniform over 2024-01-01 to 2024-01-31 and event_id in ts order; the five
  event types equally likely (each 0.198 to 0.203 of the rows); value
  exponential with mean 50 (measured means 49.6 to 50.1, medians 34.6 to
  35.7) rounded to 2 dp; props ``{"k": n}`` with n in 0..99.  A larger
  scale factor adds users; every user's history spans the same 30 days.
* ``write_arrivals``: the transcript input cut into exactly B time-ordered
  arrival files, one per streaming micro-batch.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np

EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 24 * 3600 * 1_000_000

#: conversation id of the watermark-advancing row in the last arrival file
WATERMARK_CONV = "zz_watermark"

#: conversations longer than this are the generator's hot ones
SHORT_MAX = 40


def select_transcripts(spark, candidates: int, seed: int, days: int, hot_turns: int, short_turns: int):
    """Whole conversations of ``gen_transcripts(candidates, seed)`` whose
    first turn falls in the first ``days`` days, taken in conv_id order while
    they fit the hot / short turn budgets.  Returns (DataFrame, selected)."""
    from pyspark.sql import functions as F

    from hdstats_spark.datagen import EPOCH, gen_transcripts

    full = gen_transcripts(spark, candidates, seed=seed)
    convs = (
        full.groupBy("conv_id")
        .agg(F.min("ts").alias("t0"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("t0") < F.lit(EPOCH).cast("timestamp") + F.expr(f"INTERVAL {days} DAYS"))
        .orderBy("conv_id")
        .collect()
    )
    left = {True: hot_turns, False: short_turns}
    ids = []
    for r in convs:
        hot = r["n"] > SHORT_MAX
        if r["n"] <= left[hot]:
            left[hot] -= r["n"]
            ids.append(r["conv_id"])
    return full.filter(F.col("conv_id").isin(ids)), len(ids)


def write_events(path: str, seed: int, n_events: int, n_users: int) -> int:
    """Write ``<path>/events.parquet``; returns the number of users that
    have events (one series each in the kernel leaves)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, SPAN_US, n_events)) + EPOCH_US
    value = np.round(rng.exponential(50.0, n_events), 2)
    users = rng.integers(0, n_users, n_events).astype(np.int64)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return len(np.unique(users))


def write_arrivals(transcripts, out_dir: str, n_files: int) -> list[str]:
    """Range-partition ``transcripts`` on ts into exactly ``n_files`` parquet
    files named and stamped in event-time order (the file source takes them
    oldest first, one per trigger).  The last file also carries one row a day
    past the input, so the watermark passes every real bucket and the stream
    emits all of them; that row's own bucket stays in state, unemitted."""
    staging = out_dir + ".staging"
    transcripts.repartitionByRange(n_files, "ts").write.parquet(staging)
    parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    if len(parts) != n_files:
        raise RuntimeError(f"range partitioning gave {len(parts)} files, not {n_files}")
    os.makedirs(out_dir)
    files = []
    for i, p in enumerate(parts):
        dst = os.path.join(out_dir, f"arrival-{i:04d}.parquet")
        if i == n_files - 1:
            _append_watermark_row(p, dst)
        else:
            shutil.copyfile(p, dst)
        files.append(dst)
    shutil.rmtree(staging)
    base = int(os.path.getmtime(out_dir)) - n_files - 1
    for i, f in enumerate(files):
        os.utime(f, (base + i, base + i))
    return files


def _append_watermark_row(src: str, dst: str) -> None:
    """Copy the newest arrival file with the watermark row appended (range
    partitioning puts the newest timestamps in the last file)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    max_ts = pc.max(t["ts"]).as_py()
    row = {
        "conv_id": [WATERMARK_CONV],
        "turn_idx": [0],
        "role": ["user"],
        "text": ["watermark"],
        "tool": [None],
        "ts": [max_ts + dt.timedelta(days=1)],
    }
    extra = pa.table({f.name: pa.array(row[f.name], type=f.type) for f in t.schema})
    pq.write_table(pa.concat_tables([t, extra]), dst)
