"""icelite as a Spark batch data source (PySpark 4 Python Data Source API).

Register once per session (idempotent), then read the current snapshot::

    from hdstats_spark.icelite_source import register
    register(spark)
    df = spark.read.format("icelite").load("/path/to/table")

Filters pushed by Catalyst (``df.filter(...)``) reach ``pushFilters`` and
drive icelite's file-level min/max skipping (the same ``_plan_scan`` the
native ``IceliteTable.read`` uses); every filter is handed back to Spark
as unsupported so Spark still applies it exactly — pruning is a provable
superset of the predicate, so results are identical with less I/O.  The
point lookup a user writes as
``spark.read.format("icelite").load(root).filter("conv_id = 'c17'")``
touches only the files whose recorded range covers ``c17``.

Pending merge-on-read equality deletes are applied inside the scan
(per-file Arrow anti-joins against the tiny delete key files), so the
data source returns exactly what ``IceliteTable.read`` returns.

The reference has no storage layer at all (inputs are in-memory arrays,
reference ``tests/test_pcm.py:10``); ``q_icelite_scan`` reads through this
face.  Time travel, the changelog and writes go through ``IceliteTable``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from .icelite import IceliteTable

__all__ = ["IceliteDataSource", "register"]


def register(spark) -> None:
    """Register the ``icelite`` format on this session (safe to repeat).

    Also enables ``spark.sql.python.filterPushdown.enabled``: PySpark 4
    hard-fails ANY Python data source whose reader implements
    ``pushFilters()`` when that conf is false, so a vanilla session that
    only calls ``register()`` would get ``[DATA_SOURCE_PUSHDOWN_DISABLED]``
    on first read.  The conf is runtime-settable and pushdown is purely an
    optimization (the reader re-applies every filter), so flipping it here
    makes the reader self-sufficient in any session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(IceliteDataSource)
        return
    except Exception as e:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
    # The JVM's existence check consults the thread's ACTIVE session, which
    # can be a sibling (e.g. the parent of a newSession()) that already
    # registered the name while THIS session's registry lacks it.  Retry
    # with this session active; a repeat ALREADY_EXISTS then genuinely
    # means "this session already has it" and is safe to ignore.
    jsess = getattr(spark, "_jsparkSession", None)
    jvm = getattr(spark, "_jvm", None)
    if jsess is None or jvm is None:
        return
    cls = jvm.org.apache.spark.sql.classic.SparkSession
    prev = cls.getActiveSession()
    cls.setActiveSession(jsess)
    try:
        try:
            spark.dataSource.register(IceliteDataSource)
        except Exception as e:
            if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
                raise
    finally:
        if prev is not None and prev.isDefined():
            cls.setActiveSession(prev.get())


@dataclass
class _FileSlice(InputPartition):
    """One data file plus the equality-delete files that mask it.

    ``path=None`` is the empty-scan sentinel: Spark's planner needs the
    partition list itself, and a reader that yields nothing is the
    cheapest representation of "every file was pruned"."""

    path: str | None
    # ((absolute delete-file path, (key column, ...)), ...)
    deletes: tuple = field(default_factory=tuple)


def _anti_join(tbl, key_groups):
    """Arrow left-anti join of ``tbl`` against equality-delete key files:
    masks the rows a pending delete matches.  ``key_groups`` is ((path,
    (col, ...)), ...); files sharing a key-column set are unioned into one
    key frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_cols: dict[tuple, list[str]] = {}
    for dpath, cols in key_groups:
        by_cols.setdefault(tuple(cols), []).append(dpath)
    for cols, paths in by_cols.items():
        if any(c not in tbl.column_names for c in cols):
            # key column absent from this (pre-evolution) file → reads as
            # NULL → an equality delete can never match it
            continue
        keys = pa.concat_tables(
            [pq.read_table(p, columns=list(cols)) for p in paths],
            promote_options="permissive",
        )
        # dedup keys (hash-table hygiene) and align dtypes to the data side
        keys = keys.group_by(list(cols)).aggregate([])
        keys = keys.select(list(cols)).cast(
            pa.schema([tbl.schema.field(c) for c in cols])
        )
        tbl = tbl.join(keys, keys=list(cols), join_type="left anti")
    return tbl


def _align(tbl, spark_schema: StructType):
    """Align an Arrow table to the pinned snapshot schema: evolved columns
    NULL-backfill, stale extras drop, types cast — the same read-time
    evolution contract as ``IceliteTable._reader``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    cols_out = []
    for f in target:
        if f.name in tbl.column_names:
            col = tbl.column(f.name)
            if col.type != f.type:
                col = col.cast(f.type)
            cols_out.append(col)
        else:
            cols_out.append(pa.nulls(tbl.num_rows, f.type))
    return pa.table(cols_out, schema=target)


def _read_slice(part: _FileSlice, spark_schema: StructType) -> Iterator:
    """Executor-side scan of one slice: read the parquet file with pyarrow,
    apply pending equality deletes (anti-join against the tiny key files —
    the Arrow twin of the JVM broadcast left-anti in
    ``IceliteTable._masked_scan``), then align to the pinned
    snapshot schema.  Yields Arrow record batches (zero-copy into Spark's
    Arrow ingest)."""
    if part.path is None:
        return
    import pyarrow.parquet as pq

    tbl = _anti_join(pq.read_table(part.path), part.deletes)
    yield from _align(tbl, spark_schema).to_batches(max_chunksize=1 << 16)


def _filter_spec(f) -> tuple[str, tuple] | None:
    """Map one pushed Catalyst filter to an icelite ``where`` spec, or None
    when it can't drive file skipping (nested column, unsupported shape).
    Unmappable filters cost nothing: Spark re-applies every filter."""
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None
    col = attr[0]
    if isinstance(f, EqualTo):
        return col, ("=", f.value)
    if isinstance(f, GreaterThan):
        return col, (">", f.value)
    if isinstance(f, GreaterThanOrEqual):
        return col, (">=", f.value)
    if isinstance(f, LessThan):
        return col, ("<", f.value)
    if isinstance(f, LessThanOrEqual):
        return col, ("<=", f.value)
    if isinstance(f, In):
        return col, ("in", list(f.value))
    return None


class IceliteBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType):
        self._root = root
        self._schema = schema
        self._pushed: dict = {}

    def pushFilters(self, filters):
        """Harvest min/max-skippable predicates; return EVERY filter as
        unsupported so Spark applies them exactly (icelite stats pruning is
        a superset — a file is skipped only when its range provably
        excludes the predicate).  First predicate per column wins; skipping
        fewer files is always correct."""
        wanted: dict = {}
        for f in filters:
            spec = _filter_spec(f)
            if spec is not None and spec[0] not in wanted:
                wanted[spec[0]] = spec[1]
            yield f
        self._pushed = wanted

    def partitions(self):
        t = IceliteTable(self._root)
        _, classes, dentries, _ = t._plan_scan(where=dict(self._pushed) or None)
        out = []
        for key, files in classes.items():
            dels = tuple(
                (
                    p if os.path.isabs(p) else os.path.join(t.root, p),
                    tuple(dentries[p]["keys"]),
                )
                for p in key
            )
            out.extend(_FileSlice(f, dels) for f in files)
        return out or [_FileSlice(None)]

    def read(self, partition: _FileSlice):
        return _read_slice(partition, self._schema)


class IceliteDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "icelite"

    def _root(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("icelite: table root required — .load('/path/to/table')")
        return p

    def schema(self) -> StructType:
        t = IceliteTable(self._root())
        snap = t.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no snapshot in {t.root}")
        if snap.schema is not None:
            st = StructType.fromJson(snap.schema)
            # relax to nullable: Spark's own file scans surface every
            # column nullable, and read-time evolution NULL-backfills
            # columns absent from old files — a write-time non-null flag
            # must not leak into the read schema
            from pyspark.sql.types import StructField

            return StructType(
                [StructField(f.name, f.dataType, True, f.metadata) for f in st.fields]
            )
        # pre-evolution metadata: the files' own footer schema (same
        # fallback as IceliteTable._reader)
        probe = next(
            (m["files"][0] for m in snap.partitions.values() if m["files"]), None
        )
        if probe is None:
            raise ValueError("no data files in snapshot — cannot infer schema")
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        probe = probe if os.path.isabs(probe) else os.path.join(t.root, probe)
        return from_arrow_schema(pq.ParquetFile(probe).schema_arrow)

    def reader(self, schema: StructType) -> DataSourceReader:
        return IceliteBatchReader(self._root(), schema)
