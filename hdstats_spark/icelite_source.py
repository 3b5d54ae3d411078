"""icelite as a first-class Spark data source (PySpark 4 Python Data Source API).

Register once per session (idempotent)::

    from hdstats_spark.icelite_source import IceliteDataSource
    spark.dataSource.register(IceliteDataSource)

Batch::

    df = spark.read.format("icelite").load("/path/to/table")
    df = (spark.read.format("icelite")
          .option("snapshot_id", sid)              # time travel by id
          .option("as_of", "1723900000.0")         # ... or by timestamp
          .option("partitions", '["2025-01-01"]')  # manifest-level pruning
          .load(root))

Filters pushed by Catalyst (``df.filter(...)``) reach ``pushFilters`` and
drive icelite's file-level min/max skipping (the same ``_plan_scan`` the
native ``IceliteTable.read`` uses); every filter is handed back to Spark
as unsupported so Spark still applies it exactly — pruning is a provable
superset of the predicate, so results are identical with less I/O.  This
is the route a 100-TB deployment wants: the point lookup a user writes as
``spark.read.format("icelite").load(root).filter("conv_id = 'c17'")``
touches only the files whose recorded range covers ``c17``.

Pending merge-on-read equality deletes are applied inside the scan
(per-file Arrow anti-joins against the tiny delete key files), so the
data source returns exactly what ``IceliteTable.read`` returns.

Streaming::

    s = spark.readStream.format("icelite").load(root)

Offsets are snapshot SEQUENCE NUMBERS: batch (start, end] re-plans via
``IceliteTable.appended_between`` to the same immutable file set on every
replay (snapshots never mutate), giving deterministic re-execution and
exactly-once delivery with an idempotent sink.  Append commits only —
Iceberg's streaming-read contract; ``option("on_replace", "skip")``
ignores replace commits (content-preserving for compaction), and a start
offset older than the retained chain fails loudly (``expire_snapshots``
GC'd it).  ``option("starting", "latest")`` begins at the current head
instead of the table's first commit.

Streaming CDC::

    s = spark.readStream.format("icelite").option("cdc", "true").load(root)

Same offsets, but micro-batches carry row-level ``insert``/``delete``
records with the five CDC metadata columns — the streaming face of
``IceliteTable.changes_between``, covering append and merge-on-read
commits (replace commits error or skip; see ``IceliteCDCStreamReader``).

Writing::

    df.write.format("icelite").mode("append") \
      .option("partition_col", "day").save(root)       # gen-CAS append
    df.write.format("icelite").mode("overwrite")...    # DYNAMIC partition overwrite
    df.writeStream.format("icelite")...                # exactly-once per micro-batch

The reference has no storage layer at all (inputs are in-memory arrays,
reference ``tests/test_pcm.py:10``); this module is the engine's own
Iceberg-semantics surface wired into Spark's native reader AND writer
APIs, so plain ``spark.read`` / ``spark.readStream`` / ``df.write`` /
``df.writeStream`` users never touch ``IceliteTable``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
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
    makes every face self-sufficient in any session."""
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


def _key_join(tbl, key_groups, join_type: str):
    """Arrow join of ``tbl`` against equality-delete key files —
    ``left anti`` masks matching rows (the pending-delete semantics),
    ``left semi`` keeps ONLY them (the changelog's "which live rows did
    this commit delete" question).  ``key_groups`` is ((path, (col, ...)),
    ...); files sharing a key-column set are unioned into one key frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_cols: dict[tuple, list[str]] = {}
    for dpath, cols in key_groups:
        by_cols.setdefault(tuple(cols), []).append(dpath)
    for cols, paths in by_cols.items():
        if any(c not in tbl.column_names for c in cols):
            # key column absent from this (pre-evolution) file → reads as
            # NULL → an equality delete can never match it; anti keeps
            # everything, semi keeps nothing
            if join_type == "left semi":
                return tbl.slice(0, 0)
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
        tbl = tbl.join(keys, keys=list(cols), join_type=join_type)
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
    ``IceliteTable._union_delete_classes``), then align to the pinned
    snapshot schema.  Yields Arrow record batches (zero-copy into Spark's
    Arrow ingest)."""
    if part.path is None:
        return
    import pyarrow.parquet as pq

    tbl = _key_join(pq.read_table(part.path), part.deletes, "left anti")
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
    def __init__(self, root: str, options: dict, schema: StructType):
        self._root = root
        self._options = options
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
        pj = self._options.get("partitions")
        as_of = self._options.get("as_of")
        sid = self._options.get("snapshot_id")
        snap, classes, dentries, _ = t._plan_scan(
            snapshot_id=sid,
            partitions=json.loads(pj) if pj else None,
            where=dict(self._pushed) or None,
            as_of=float(as_of) if as_of else None,
        )
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


@dataclass
class _CDCSlice(InputPartition):
    """One changelog slice: an ``insert`` slice is a commit's own new data
    file; a ``delete`` slice is one PARENT-snapshot data file whose
    pending-delete-masked rows are semi-joined against the commit's
    equality-delete key files (which live rows did this commit delete)."""

    path: str
    ctype: str  # "insert" | "delete"
    deletes: tuple  # parent pending deletes to apply first (anti)
    semi: tuple  # this commit's delete key files ((path, (col, ...)), ...)
    partition: str
    seq: int
    sid: str
    ts: float


def _read_cdc_slice(part: _CDCSlice, spark_schema: StructType) -> Iterator:
    """Executor-side changelog scan: data columns aligned like a normal
    slice, then the five CDC metadata columns appended as constants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_schema = StructType(
        [f for f in spark_schema.fields if f.name not in _CDC_COLS]
    )
    tbl = _key_join(pq.read_table(part.path), part.deletes, "left anti")
    if part.ctype == "delete":
        tbl = _key_join(tbl, part.semi, "left semi")
    tbl = _align(tbl, data_schema)
    n = tbl.num_rows
    meta = {
        "_change_type": pa.array([part.ctype] * n, pa.string()),
        "_partition": pa.array([part.partition] * n, pa.string()),
        "_commit_seq": pa.array([part.seq] * n, pa.int64()),
        "_commit_snapshot_id": pa.array([part.sid] * n, pa.string()),
        "_commit_timestamp": pa.array([part.ts] * n, pa.float64()),
    }
    for name, col in meta.items():
        tbl = tbl.append_column(name, col)
    yield from tbl.to_batches(max_chunksize=1 << 16)


_CDC_COLS = (
    "_change_type",
    "_partition",
    "_commit_seq",
    "_commit_snapshot_id",
    "_commit_timestamp",
)


class IceliteStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, options: dict, schema: StructType):
        self._root = root
        self._schema = schema
        self._on_replace = options.get("on_replace", "error")
        self._starting = options.get("starting", "earliest")
        if self._starting not in ("earliest", "latest"):
            raise ValueError("starting must be 'earliest' or 'latest'")

    def _head(self) -> dict:
        t = IceliteTable(self._root)
        sid = t.current_snapshot_id()
        if sid is None:
            return {"seq": 0, "sid": None}
        s = t._load_raw(sid)
        return {"seq": s.seq, "sid": s.snapshot_id}

    def initialOffset(self) -> dict:
        return self._head() if self._starting == "latest" else {"seq": 0, "sid": None}

    def latestOffset(self) -> dict:
        return self._head()

    def partitions(self, start: dict, end: dict):
        if end.get("sid") is None or end["seq"] <= start["seq"]:
            return []
        t = IceliteTable(self._root)
        _, adds = t.appended_between(start["seq"], end["sid"], self._on_replace)
        return [
            _FileSlice(
                a["file"]
                if os.path.isabs(a["file"])
                else os.path.join(t.root, a["file"])
            )
            for a in adds
        ]

    def read(self, partition: _FileSlice):
        return _read_slice(partition, self._schema)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class IceliteCDCStreamReader(IceliteStreamReader):
    """Streaming CHANGELOG reader — ``option("cdc", "true")``::

        spark.readStream.format("icelite").option("cdc", "true").load(root)

    Offsets are snapshot seqs like the append stream, but each micro-batch
    carries row-level ``insert``/``delete`` records with the five CDC
    metadata columns (the streaming face of
    ``IceliteTable.changes_between``).  Planning is metadata-only on the
    driver; every slice is one parquet file scanned executor-side —
    inserts come straight off the commit's manifest, deletes are Arrow
    semi joins of parent files against the commit's tiny equality-delete
    key files.  Replace commits (overwrite/CoW delete/rollback/compaction)
    cannot be diffed executor-side — ``on_replace='error'`` (default)
    fails the stream, ``'skip'`` passes over them (content-preserving for
    compaction, exactly the append stream's contract); use the batch
    ``changes_between`` for ranges containing overwrites."""

    def __init__(self, root: str, options: dict, schema: StructType):
        super().__init__(root, options, schema)
        if self._on_replace not in ("error", "skip"):
            raise ValueError("on_replace must be 'error' or 'skip'")

    def partitions(self, start: dict, end: dict):
        if end.get("sid") is None or end["seq"] <= start["seq"]:
            return []
        t = IceliteTable(self._root)
        out: list[_CDCSlice] = []
        for snap in t._commits_between(start["seq"], t._load_raw(end["sid"])):
            d = snap.delta
            if d["mode"] != "append":
                if self._on_replace == "error":
                    raise ValueError(
                        f"snapshot {snap.snapshot_id} (op={snap.operation!r}, "
                        f"seq {snap.seq}) replaced data files; the streaming "
                        "changelog cannot diff it executor-side — pass "
                        "on_replace='skip' (safe for compaction) or use the "
                        "batch changes_between"
                    )
                continue
            meta = dict(seq=int(snap.seq), sid=snap.snapshot_id,
                        ts=float(snap.committed_at))
            parent = (
                t._resolve(t._load_raw(snap.parent_id))
                if snap.parent_id is not None
                else None
            )
            pparts = parent.partitions if parent is not None else {}
            for value, m in d["parts"].items():
                for f in m["files"]:
                    out.append(_CDCSlice(t._abs(f), "insert", (), (),
                                         value, **meta))
                dels = m.get("deletes") or ()
                if not dels or value not in pparts:
                    continue
                semi = tuple(
                    (t._abs(de["file"]), tuple(de["keys"])) for de in dels
                )
                pm = pparts[value]
                fseqs = pm.get("fseq") or [0] * len(pm["files"])
                pdels = pm.get("deletes") or ()
                for f, fs in zip(pm["files"], fseqs):
                    anti = tuple(
                        (t._abs(de["file"]), tuple(de["keys"]))
                        for de in pdels
                        if de["seq"] > fs
                    )
                    out.append(_CDCSlice(t._abs(f), "delete", anti, semi,
                                         value, **meta))
        return out

    def read(self, partition: _CDCSlice):
        return _read_cdc_slice(partition, self._schema)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


@dataclass
class _WriteResult(WriterCommitMessage):
    """Per-task commit message: ((partition_value, root-relative path,
    rows), ...) for the files this task wrote."""

    files: tuple


class IceliteArrowWriter(DataSourceArrowWriter):
    """Batch writer face — ``df.write.format("icelite")``::

        (df.write.format("icelite").mode("append")
           .option("partition_col", "day").save(root))

    Executor tasks stream their Arrow batches straight into parquet files
    under one commit directory (partition column split per task, dropped
    from the files — it lives in manifest keys, like every icelite
    writer); the DRIVER-side ``commit`` reads only the footers (row
    counts + fmt-2 min/max stats) and runs the same gen-file-CAS
    ``_commit_delta`` as ``IceliteTable.append``, so concurrent writers
    retry-merge instead of clobbering and appends into merge-on-read
    partitions get their birth seq stamped.  ``mode("overwrite")`` is
    DYNAMIC partition overwrite (Iceberg's ``overwritePartitions``): only
    the partitions present in the written data are replaced.  ``abort``
    unlinks everything the tasks wrote — nothing is referenced until the
    commit lands."""

    def __init__(self, root: str, options: dict, schema: StructType, overwrite: bool):
        import uuid

        self._root = root
        self._options = options
        self._schema = schema
        self._overwrite = overwrite
        self._pcol = options.get("partition_col")
        if self._pcol and self._pcol not in schema.fieldNames():
            raise ValueError(
                f"partition_col {self._pcol!r} not in the written columns"
            )
        self._commit_rel = os.path.join("data", f"commit-{uuid.uuid4().hex[:12]}")

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        batches = list(iterator)
        full = to_arrow_schema(self._schema)
        tbl = (
            pa.Table.from_batches(batches)
            if batches
            else pa.table([pa.nulls(0, f.type) for f in full], schema=full)
        )
        cdir = os.path.join(self._root, self._commit_rel)
        os.makedirs(cdir, exist_ok=True)
        out = []

        def dump(value, part_tbl):
            if part_tbl.num_rows == 0:
                return
            name = f"part-{uuid.uuid4().hex[:16]}.parquet"
            pq.write_table(part_tbl, os.path.join(cdir, name))
            out.append(
                (value, os.path.join(self._commit_rel, name), part_tbl.num_rows)
            )

        if self._pcol is None:
            dump("__all__", tbl)
        else:
            import pyarrow.compute as pc

            keys = pc.cast(tbl.column(self._pcol), pa.string())
            data = tbl.drop_columns([self._pcol])
            for value in pc.unique(keys).to_pylist():
                if value is None:
                    raise ValueError(f"NULL {self._pcol} partition value")
                dump(value, data.filter(pc.equal(keys, value)))
        return _WriteResult(tuple(out))

    # ------------------------------------------------------------- driver

    def _gather(self, messages):
        by_value: dict[str, list[tuple[str, int]]] = {}
        for msg in messages:
            for value, rel, rows in msg.files:
                by_value.setdefault(value, []).append((rel, rows))
        return by_value

    def _build_manifest(self, t: IceliteTable, by_value: dict) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        from .icelite import _file_stats

        paths = [rel for fs in by_value.values() for rel, _ in fs]
        scols_box = [None]

        def footer(rel):
            pf = pq.ParquetFile(os.path.join(self._root, rel))
            if scols_box[0] is None:
                scols_box[0] = t._resolve_stats_cols(pf)
            return _file_stats(pf, scols_box[0], t.STATS_MAX_STR)

        with ThreadPoolExecutor(max_workers=16) as ex:
            stats = dict(zip(paths, ex.map(footer, paths)))
        return {
            value: {
                "files": [rel for rel, _ in fs],
                "rows": int(sum(r for _, r in fs)),
                "stats": [stats[rel] for rel, _ in fs],
            }
            for value, fs in by_value.items()
        }

    def _data_fields(self):
        return [
            f
            for f in self._schema.jsonValue()["fields"]
            if f["name"] != self._pcol
        ]

    def commit(self, messages):
        by_value = self._gather(messages)
        if not by_value:
            self.abort(messages)
            return
        t = IceliteTable(self._root)
        op = "overwrite" if self._overwrite else "append"
        try:
            # same partition-spec guard native append/overwrite run in
            # _precheck_schema: without it an unpartitioned write into a
            # partitioned table commits '__all__' beside real keys and
            # silently corrupts partition pruning.  Schema compatibility
            # is enforced by _evolve_schema inside _commit_delta's retry
            # loop.  On ANY pre-commit failure the just-written files are
            # orphans — unlink them before re-raising.
            t._check_partition_spec(self._pcol, op)
            t._commit_delta(
                op,
                "replace" if self._overwrite else "append",
                self._build_manifest(t, by_value),
                {"writer": "spark-datasource"},
                self._data_fields(),
                self._pcol,
            )
        except Exception:
            self.abort(messages)
            raise

    def abort(self, messages):
        for msg in messages:
            for _, rel, _ in msg.files:
                try:
                    os.unlink(os.path.join(self._root, rel))
                except (OSError, TypeError):
                    pass


class IceliteStreamArrowWriter(IceliteArrowWriter, DataSourceStreamArrowWriter):
    """Streaming writer face — ``df.writeStream.format("icelite")``: one
    icelite append commit per micro-batch, EXACTLY-ONCE by recording the
    micro-batch id in the commit lineage and skipping (with file cleanup)
    any batch id at or below the last committed one — the same idempotent
    replay contract as the engine's foreachBatch sink
    (streaming/stream.py), now reachable without writing any Python."""

    def __init__(self, root: str, options: dict, schema: StructType):
        super().__init__(root, options, schema, overwrite=False)
        # scope the exactly-once dedup to THIS query's checkpoint: batch
        # ids restart from 0 with a fresh checkpoint, and two concurrent
        # queries writing one table interleave ids — comparing only the
        # global latest micro_batch would silently drop their data
        # (Iceberg scopes the same dedup by queryId; the checkpoint
        # location is the stable identity Spark hands a Python writer)
        self._scope = options.get("checkpointLocation") or None

    def _already_committed(self, t: IceliteTable, batch_id: int) -> bool:
        sid = t.current_snapshot_id()
        while sid is not None:
            s = t._load_raw(sid)
            lin = s.lineage or {}
            mb = lin.get("micro_batch")
            if mb is not None and lin.get("writer") == "spark-datasource":
                if lin.get("query_scope", None) == self._scope:
                    return int(mb) >= batch_id
                # another query's commit: keep walking for our own scope
            sid = s.parent_id
        return False

    def commit(self, messages, batchId: int):
        by_value = self._gather(messages)
        t = IceliteTable(self._root)
        if not by_value or self._already_committed(t, int(batchId)):
            self.abort(messages, batchId)  # replayed/empty: files are orphans
            return
        lineage = {"writer": "spark-datasource", "micro_batch": int(batchId)}
        if self._scope is not None:
            lineage["query_scope"] = self._scope
        try:
            t._check_partition_spec(self._pcol, "append")
            t._commit_delta(
                "append",
                "append",
                self._build_manifest(t, by_value),
                lineage,
                self._data_fields(),
                self._pcol,
            )
        except Exception:
            self.abort(messages, batchId)
            raise

    def abort(self, messages, batchId: int):
        IceliteArrowWriter.abort(self, messages)


class IceliteDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "icelite"

    def _root(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("icelite: table root required — .load('/path/to/table')")
        return p

    def _cdc(self) -> bool:
        return str(self.options.get("cdc", "")).lower() in ("true", "1", "yes")

    def schema(self) -> StructType:
        t = IceliteTable(self._root())
        if self._cdc():
            from pyspark.sql.types import (
                DoubleType,
                LongType,
                StringType,
                StructField,
            )

            base = IceliteDataSource(
                {k: v for k, v in self.options.items() if k != "cdc"}
            ).schema()
            kinds = {
                "_change_type": StringType(),
                "_partition": StringType(),
                "_commit_seq": LongType(),
                "_commit_snapshot_id": StringType(),
                "_commit_timestamp": DoubleType(),
            }
            return StructType(
                list(base.fields)
                + [StructField(n, kinds[n], True) for n in _CDC_COLS]
            )
        as_of = self.options.get("as_of")
        sid = self.options.get("snapshot_id")
        snap = t.snapshot_as_of(float(as_of)) if as_of else t.snapshot(sid)
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
        return IceliteBatchReader(self._root(), dict(self.options), schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        cls = IceliteCDCStreamReader if self._cdc() else IceliteStreamReader
        return cls(self._root(), dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool):
        return IceliteArrowWriter(self._root(), dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return IceliteStreamArrowWriter(self._root(), dict(self.options), schema)
