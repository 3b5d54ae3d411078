"""hdstats_spark — a PySpark-native time-series rollup, downsample and
retention engine over transcript tables.

From-scratch Spark-first re-expression of the query semantics of
``daleroberts/hdstats`` (reference at /root/reference): the reference's dense
(m,q,p,n) spatial-temporal stacks become per-conversation channel time series
(`conv_id` ↔ pixel, channel vector ↔ band axis, rollup bucket ↔ timestep),
its reduction kernels become batched Arrow UDF continuous aggregates, and the
relational scaffolding (scans, tier rollups, windows, joins, retention,
compression, checkpointing) is built from idiomatic DataFrame primitives so
Catalyst supplies pushdown/pruning/partial-aggregation for free.

Layout:
  session       — tuned SparkSession builder (AQE, Arrow, UTC)
  worker_daemon — zip-free Python worker daemon (this package's import must
                  not import pyspark: the daemon loads through it)
  schema        — transcript + tier schemas, channel definitions
  datagen       — deterministic distributed synthetic transcripts
  operators/    — channelize, rollup tiers, gap-fill, batched series kernels,
                  dedup, …
  compression/  — Gorilla XOR + delta-of-delta codecs (vectorized NumPy)
  icelite       — Iceberg-style snapshot/lineage emulation over Parquet
  plans/        — end-to-end tiering pipeline with checkpoint/resume
"""

__version__ = "0.1.0"
