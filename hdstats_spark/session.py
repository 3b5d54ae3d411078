"""SparkSession factory tuned for the tiering engine.

Defaults are chosen for correctness-at-scale first:
  * AQE on (runtime coalescing + skew-join splitting — the engine's main
    defence against hot conversations, SURVEY.md §4);
  * Arrow transport on with a bounded batch size so grouped-map UDFs stream
    large conversations instead of materializing them;
  * UTC session timezone so bucket boundaries are deterministic everywhere;
  * shuffle partitions sized to the local core count (a real cluster job
    overrides via spark-submit --conf);
  * Python workers forked from ``hdstats_spark.worker_daemon``, which takes
    Spark's zip archives off the workers' ``sys.path`` when an installed
    pyspark is importable.  Each task runs ``importlib.invalidate_caches()``,
    which makes every zip importer re-read its archive: 125–240 ms per task
    on a 4-core VM, most of a small task's fixed cost (see that module).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "hdstats-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra: dict | None = None,
) -> SparkSession:
    cpus = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # grouped-map UDF closures import hdstats_oracle on the workers: make the
    # repo importable there regardless of the caller's cwd (a cluster job
    # ships the same packages via spark-submit --py-files instead)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pypath if pypath else "")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros, not legacy INT96: INT96 timestamps carry NO parquet
        # min/max statistics, which would blind icelite's fmt-2 file
        # skipping (and every other engine's row-group pruning) on the ONE
        # column a timeseries tier is most often filtered by
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # favor parallelism over fat partitions: window/kernel stages are
        # CPU-bound per row, and 64 MB post-shuffle partitions would serialize
        # them on small-to-medium inputs
        # (at cluster scale shuffle bytes dwarf these floors; they only stop
        # size-based coalescing from serializing CPU-bound stages on small
        # local inputs)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # let Catalyst hand filters to Python data sources (icelite_source
        # turns them into manifest + file-level min/max skipping; every
        # filter is still re-applied by Spark, so semantics are exact)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "hdstats_spark.worker_daemon")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
