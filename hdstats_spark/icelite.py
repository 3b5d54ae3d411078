"""icelite — Iceberg-semantics emulation over Parquet + JSON metadata.

The sandbox ships no Iceberg runtime jar (SURVEY.md §7), so tier tables get
Iceberg's *operational* semantics — immutable snapshots, per-partition
manifests, append / overwrite-by-partition, time travel by snapshot id, and
lineage records — from a thin layer: Parquet data files laid out by partition
plus a JSON metadata log.  The interface is deliberately shaped so a real
deployment swaps `IceliteTable` for ``spark.read.format("iceberg")`` /
``df.writeTo(...)`` without touching callers.

Layout:
    <root>/data/<partition>=<value>/part-*.parquet
    <root>/metadata/snapshot-<id>.json     (one per commit)
    <root>/metadata/gen-<seq>               (put-if-absent commit CAS)
    <root>/metadata/current                 (hint: id + seq of the head)

The table is one linear commit chain.  Its surface is what the tier jobs,
the stream sink and the ``queries()`` rows use:

* writes: ``append`` and ``overwrite_partitions`` (``cluster`` is
  ``asis``, ``roundrobin`` or ``bypart``), plus the merge-on-read
  ``upsert`` and ``delete_by_keys``;
* reads: ``read`` (time travel by snapshot id, manifest-level partition
  pruning, file-level min/max skipping) and the changelog scan
  ``changes_between``; ``icelite_source`` puts the current-snapshot read
  behind ``spark.read.format("icelite")``.  A read with pending deletes is
  one scan plus one broadcast anti join per key-column set, and
  ``_labelled_scan`` is the one place a scanned row is tagged with its
  file's label (delete class, partition value, key file's partitions);
* maintenance: ``compact_partition`` plus ``expire_snapshots``.

Metadata scales like Iceberg's manifest lists, not like a naive full-map
log: a DELTA snapshot stores only the partitions its commit touched
(O(changed partitions) bytes per commit), and every CHECKPOINT_EVERY-th
commit in the chain is a CHECKPOINT storing the full resolved manifest, so
reading any snapshot costs at most CHECKPOINT_EVERY JSON files (amortized
O(1) for a writer advancing the chain, via a one-entry resolution cache).
In memory ``Snapshot.partitions`` is ALWAYS the full resolved
partition→files manifest — callers never see deltas.

Each snapshot records: parent id, operation, the delta (or full manifest),
row counts, and a caller-supplied lineage dict (input snapshot-id, partition
range, rows processed, metrics) — the checkpoint/resume contract of the
north rule.  A commit is decided by the put-if-absent `gen-<seq>` file.
"""

from __future__ import annotations

import json
import os
import threading
import time
import unicodedata
import uuid
from dataclasses import dataclass, field
from urllib.parse import quote, unquote

try:  # POSIX fast path; object-store deployments have no flock(2)
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed between manifest read and flip — the icelite
    analogue of Iceberg's CommitFailedException (callers retry the merge)."""


class SchemaEvolutionError(RuntimeError):
    """A write's schema is incompatible with the table schema (same-name
    column with a different type).  Compatible evolution — NEW columns —
    is applied automatically; a long-lived tier table gains channels over
    its lifetime and must not need a rewrite for each one."""


def _evolve_schema(cur: dict | None, new_fields: list[dict], op: str) -> dict | None:
    """Merge a write's data-column fields into the table schema (both in
    StructType.jsonValue() form).  Unknown columns append (add-column
    evolution); a same-name column whose TYPE differs raises; columns the
    write omits stay in the schema (its files simply lack them and readers
    NULL-backfill).  Field order is the table's historical order — readers
    of every snapshot see a stable column layout."""
    if cur is None:
        return {"type": "struct", "fields": list(new_fields)} if new_fields else None
    by_name = {f["name"]: f for f in cur["fields"]}
    out = list(cur["fields"])
    for f in new_fields:
        have = by_name.get(f["name"])
        if have is None:
            out.append(f)
        elif have["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"{op}: column {f['name']!r} has type {f['type']!r} but the "
                f"table schema says {have['type']!r}; icelite evolves by "
                "ADD-COLUMN only — rewrite the table to change a type"
            )
    return {"type": "struct", "fields": out}


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    operation: str
    # ALWAYS the full resolved manifest in memory (value -> {files, rows});
    # serialized to disk only for checkpoint snapshots
    partitions: dict | None = None
    # what THIS commit changed: {"mode": "append"|"replace", "parts": {...}};
    # the only manifest data a delta snapshot persists
    delta: dict | None = None
    kind: str = "checkpoint"  # "checkpoint" | "delta"
    seq: int = 1  # chain depth from the root commit
    lineage: dict = field(default_factory=dict)
    committed_at: float = 0.0
    # snapshot format version: 1 = {files, rows} manifests, 2 = adds
    # per-file column min/max under "stats" (readers of either version
    # accept the other — a missing stat just disables file skipping),
    # 3 = adds merge-on-read state: per-file birth seq under "fseq" and
    # equality-delete files under "deletes" (an equality delete applies to
    # exactly the files with fseq < its seq — Iceberg v2's sequence-number
    # rule)
    fmt: int = 2
    # table schema AS OF this snapshot (StructType.jsonValue(), data
    # columns only — the partition column lives in the manifest keys).
    # Versioned per snapshot so time travel reads each snapshot under the
    # schema it was committed with; None on pre-evolution metadata (readers
    # then take the files' own schema, today's behavior)
    schema: dict | None = None
    # the partitioning column's NAME (its values are the manifest keys):
    # lets read(where=) route predicates on it to manifest-level pruning
    partition_col: str | None = None

    def to_json(self) -> dict:
        d = dict(self.__dict__)
        if self.kind != "checkpoint":
            d["partitions"] = None  # delta snapshots persist O(changed) bytes
        return d


def _apply_delta(base: dict, delta: dict) -> dict:
    """Fold one commit's delta into a resolved manifest (copy-on-write: the
    returned dict is new, untouched partition entries are shared)."""
    out = dict(base)
    parts = delta["parts"]
    if delta["mode"] == "append":
        for value, m in parts.items():
            if value in out:
                prev = out[value]
                merged = {
                    "files": prev["files"] + m["files"],
                    "rows": prev["rows"] + m["rows"],
                }
                if "stats" in prev or "stats" in m:
                    # per-file stats stay aligned with files; a side written
                    # by a pre-fmt-2 writer contributes None entries (those
                    # files are simply never skipped)
                    merged["stats"] = (
                        prev.get("stats") or [None] * len(prev["files"])
                    ) + (m.get("stats") or [None] * len(m["files"]))
                if "fseq" in prev or "fseq" in m:
                    # per-file birth commit seq, aligned with files; a side
                    # without it predates every equality delete (seq 0)
                    merged["fseq"] = (
                        prev.get("fseq") or [0] * len(prev["files"])
                    ) + (m.get("fseq") or [0] * len(m["files"]))
                if prev.get("deletes") or m.get("deletes"):
                    # equality-delete files accumulate until compaction or
                    # overwrite materializes them (merge-on-read)
                    merged["deletes"] = list(prev.get("deletes") or []) + list(
                        m.get("deletes") or []
                    )
                out[value] = merged
            else:
                out[value] = m
    else:  # replace: the commit's partitions point at the new files only
        out.update(parts)
    return out


def _stamp_seq(parts: dict, prev_parts: dict | None, mode: str, seq: int) -> dict:
    """Stamp this commit's sequence number into the parts that need
    merge-on-read bookkeeping: ``fseq`` entries of None become ``seq`` (the
    file is born at this commit), and delete entries with seq None likewise.
    A part is stamped only when it — or, for appends, the manifest entry it
    merges into — already carries MOR state (``fseq``/``deletes``); plain
    tables keep byte-identical metadata.  Returns fresh dicts (callers reuse
    ``parts`` across commit retries, where ``seq`` changes)."""
    out = {}
    for value, m in parts.items():
        pe = (prev_parts or {}).get(value) if mode == "append" else None
        need = (
            "fseq" in m
            or "deletes" in m
            or (pe is not None and ("fseq" in pe or pe.get("deletes")))
        )
        if not need:
            out[value] = m
            continue
        m2 = dict(m)
        fs = m2.get("fseq")
        m2["fseq"] = (
            [seq] * len(m2["files"])
            if fs is None
            else [seq if x is None else x for x in fs]
        )
        if m2.get("deletes"):
            m2["deletes"] = [
                dict(d, seq=seq if d.get("seq") is None else d["seq"])
                for d in m2["deletes"]
            ]
        out[value] = m2
    return out


# files per literal label map: a longer file list is read as a union of
# one reader per chunk, so no map expression grows past this many entries
_LABEL_CHUNK = 64


def _uri_tail2(p: str) -> str:
    """Last two path components of ``p`` as Spark's scanned-file name
    spells them: Hadoop's ``Path.toUri()``, i.e. java.net.URI's path quoting —
    an ASCII character outside URI path characters becomes %XX, and a
    non-ASCII one stays as it is unless it is a space or control
    character (then its UTF-8 bytes become %XX).  Spark's own escapes in
    partition directory names ('%3A', ...) are quoted again ('%253A').
    A part-file basename alone repeats across the partition dirs of one
    write job (same job uuid, same task index), but
    '<partition dir>/<basename>' is unique within a table."""
    tail = "/".join(p.replace(os.sep, "/").rstrip("/").split("/")[-2:])
    return "".join(
        quote(c, safe="/;:@&=+$,!~*'()")
        if c < "\x80" or unicodedata.category(c) in ("Zs", "Zl", "Zp", "Cc")
        else c
        for c in tail
    )


def _labelled_scan(reader, files: list[str], labels: dict[str, list]) -> DataFrame:
    """``reader.parquet(*files)`` plus one column per ``labels`` entry
    carrying the label of each row's own file (``labels[c][i]`` labels
    ``files[i]``; a list label becomes an array).  The one place rows are
    tied to their files: per label, a literal map from each file's
    ``_uri_tail2`` to its label, looked up by the tail of
    ``input_file_name()``, all in one projection.  That projection is
    nondeterministic, so Spark keeps a join's inferred not-null filter on
    a label above it and each row looks each label up once.  (A map to a
    struct of all labels would look up once per row, but on 10 files its
    literal costs ~45 ms more driver time than the second lookup costs on
    110k rows.)  Past ``_LABEL_CHUNK`` files the scan is a union of one
    reader per chunk, each with its own maps.  Tails are unique by
    construction (every data and key file sits under a uuid-named
    ``commit-``/``compact-``/``deletes-`` dir, and part names carry the
    write job's uuid), so a repeat is an error."""
    from functools import reduce

    from pyspark.sql import functions as F

    tails = [_uri_tail2(p) for p in files]
    if len(set(tails)) != len(tails):
        raise ValueError(f"files with the same last two path components: {files}")
    tail = F.substring_index(F.input_file_name(), "/", -2)

    def lit(v):
        return F.array(*map(F.lit, v)) if isinstance(v, list) else F.lit(v)

    frames = []
    for lo in range(0, len(files), _LABEL_CHUNK):
        chunk = slice(lo, lo + _LABEL_CHUNK)
        cols = [
            F.element_at(
                F.create_map(
                    *[x for t, v in zip(tails[chunk], vs[chunk]) for x in (F.lit(t), lit(v))]
                ),
                tail,
            ).alias(c)
            for c, vs in labels.items()
        ]
        frames.append(reader.parquet(*files[chunk]).select("*", *cols))
    return reduce(DataFrame.unionByName, frames)


def _data_fields(df: DataFrame, partition_col: str | None) -> list[dict]:
    """The write's DATA-column schema fields (partition col excluded — it
    lives in directory names / manifest keys, not the files), in
    StructType.jsonValue() form.  Writers evolving a schema must also
    validate BEFORE writing data files, so an incompatible type change
    fails fast instead of after a full Spark write."""
    return [
        f.jsonValue() for f in df.schema.fields if f.name != partition_col
    ]


def _stat_scalar(v, max_str: int = 64):
    """Normalize one min/max value to a JSON-safe, totally-ordered scalar —
    the SAME function encodes writer-side footer stats and reader-side
    predicate values, so comparisons are always like-for-like.  Returns
    None for values that can't be encoded order-faithfully (those columns
    simply never skip a file — conservative by construction)."""
    import datetime

    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        return v if len(v) <= max_str else None
    if isinstance(v, bytes):
        return None
    # timestamps/dates → epoch seconds; naive values are treated as UTC on
    # BOTH sides (Spark writes UTC-normalized parquet timestamps)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return v.timestamp()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day, tzinfo=datetime.timezone.utc).timestamp()
    item = getattr(v, "item", None)  # numpy scalars
    if item is not None:
        return _stat_scalar(item(), max_str)
    return None


def _file_stats(pf, cols: list[str], max_str: int = 64) -> dict:
    """Per-column [min, max] for one parquet file from its FOOTER row-group
    statistics (metadata-only — the footer is already being read for row
    counts).  Parquet truncation keeps stored min ≤ true min and stored
    max ≥ true max (BinaryTruncator increments on truncate), so the bounds
    stay conservative.  A column missing stats in ANY row group gets no
    entry (readers then never skip on it)."""
    md = pf.metadata
    name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    # the file's own leaf columns: a file written BEFORE an add-column
    # evolution reads as all-NULL for the new column, so any =/</>/between
    # predicate on it provably excludes the file — but only if the reader
    # can distinguish "column absent" from "stats not collected"
    out = {"__cols__": sorted(name_to_idx)}
    for c in cols:
        j = name_to_idx.get(c)
        if j is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _stat_scalar(st.min, max_str), _stat_scalar(st.max, max_str)
            if mn is None or mx is None or type(mn) is not type(mx):
                ok = False
                break
            if lo is None:
                lo, hi = mn, mx
            elif type(mn) is not type(lo):
                ok = False
                break
            else:
                lo, hi = min(lo, mn), max(hi, mx)
        if ok and lo is not None:
            out[c] = [lo, hi]
    return out


def _auto_stats_cols(pf, cap: int) -> list[str]:
    """Schema-order orderable primitive columns (fmt-2 auto selection)."""
    import pyarrow as pa

    cols = []
    for f in pf.schema_arrow:
        t = f.type
        if (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_date(t)
        ):
            cols.append(f.name)
        if len(cols) >= cap:
            break
    return cols


def _ranges_disjoint(lo, hi, op: str, args: tuple) -> bool:
    """True iff a file whose column spans [lo, hi] can PROVABLY not satisfy
    the predicate — the only case that may skip the file."""
    if op == "=":
        return args[0] < lo or args[0] > hi
    if op == "<":
        return lo >= args[0]
    if op == "<=":
        return lo > args[0]
    if op == ">":
        return hi <= args[0]
    if op == ">=":
        return hi < args[0]
    if op == "between":
        return args[1] < lo or args[0] > hi
    if op == "in":
        return all(a < lo or a > hi for a in args[0])
    raise ValueError(f"unknown predicate op {op!r}")


def _z_orderable(col, dtype):
    """A Column cast to DOUBLE for z-value scaling; numeric, timestamp and
    date columns are supported (string z-ordering needs a collation-aware
    encoding — out of scope, callers cluster on a hash or prefix int)."""
    from pyspark.sql.types import DateType, NumericType, TimestampType

    if isinstance(dtype, NumericType):
        return col.cast("double")
    if isinstance(dtype, TimestampType):
        return col.cast("double")  # seconds since epoch
    if isinstance(dtype, DateType):
        return col.cast("timestamp").cast("double")
    raise ValueError(f"z-order unsupported for column type {dtype}")


def cluster_zorder(
    df: DataFrame, cols: list[str], nparts: int | None = None, bits: int = 8
) -> DataFrame:
    """Z-ORDER (Morton-curve) clustering: return ``df`` repartitioned by
    range of the interleaved-bit key of ``cols`` and sorted by it within
    partitions, the key itself dropped.  Write the result with
    ``cluster="asis"`` (or pass the column list to ``compact_partition``)
    and every output file covers a small HYPER-RECTANGLE of the value
    space, so the fmt-2 per-file min/max stay tight on EVERY clustered
    column simultaneously — ``read(where=...)`` then skips files for
    predicates on any of them.  Single-column range clustering only
    achieves this for its one column; on a 100-TB table queried both
    by series key and by time, z-order is the layout that makes BOTH
    point lookups metadata-bounded.  This is Iceberg's
    ``rewrite_data_files(strategy => 'sort', sort_order => zorder(...))``
    re-expressed as a pure DataFrame transform (one bounded driver
    collect of 2·len(cols) scalars for the scaling bounds; the Morton
    key is built from JVM bit ops — no Python UDF, stays codegen'd).

    ``bits`` per-column resolution (default 8 → 256 buckets/column) is
    plenty to separate files: skipping happens at file granularity, so
    resolution beyond ~#files per partition buys nothing.  NULLs map to
    bucket 0 (lowest cell, mirroring NULLS FIRST)."""
    from pyspark.sql import functions as F

    if not cols or len(cols) * bits > 63:
        raise ValueError("need 1 ≤ len(cols) and len(cols)*bits ≤ 63")
    n = nparts or df.sparkSession.sparkContext.defaultParallelism
    aggs = []
    for i, c in enumerate(cols):
        cc = _z_orderable(F.col(c), df.schema[c].dataType)
        aggs += [F.min(cc).alias(f"lo{i}"), F.max(cc).alias(f"hi{i}")]
    b = df.agg(*aggs).collect()[0]
    top = (1 << bits) - 1
    k = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo = float(b[f"lo{i}"]) if b[f"lo{i}"] is not None else 0.0
        hi = float(b[f"hi{i}"]) if b[f"hi{i}"] is not None else 0.0
        span = (hi - lo) or 1.0
        cc = _z_orderable(F.col(c), df.schema[c].dataType)
        s = F.floor((cc - F.lit(lo)) / F.lit(span) * F.lit(float(top))).cast("long")
        s = F.coalesce(
            F.greatest(F.lit(0).cast("long"), F.least(s, F.lit(top).cast("long"))),
            F.lit(0).cast("long"),
        )
        for bpos in range(bits):
            bit = F.shiftright(s, bpos).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, bpos * k + i))
    return (
        df.withColumn("__z__", z)
        .repartitionByRange(max(1, n), "__z__")
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )


class _Heartbeat(threading.Thread):
    """Touches the lock token's mtime while the holder works, so a live
    holder is never mistaken for a dead one (lease renewal).

    Transient utime errors (EIO, an NFS hiccup) must NOT end renewal — a
    silently stopped heartbeat turns a live holder stale and lets a waiter
    steal mid-critical-section.  Renewal stops only after several
    consecutive FileNotFoundErrors (the token is really gone — stolen or
    released), and that is surfaced via ``lost`` so release can skip the
    unlink of a token that is no longer ours."""

    def __init__(self, path: str, interval: float):
        super().__init__(daemon=True)
        self._path, self._interval = path, interval
        self._stopped = threading.Event()
        self.lost = False

    def run(self):
        missing = 0
        while not self._stopped.wait(self._interval):
            try:
                os.utime(self._path)
                missing = 0
            except FileNotFoundError:
                missing += 1
                if missing >= 3:
                    self.lost = True
                    return
            except OSError:
                continue  # transient — keep renewing

    def stop(self):
        self._stopped.set()


class IceliteTable:
    LOCK_TIMEOUT_S = 20.0  # commits hold the lock for milliseconds
    # token lock lease: a token whose mtime is older than STALE is a dead
    # holder (heartbeat period ≪ staleness, the standard lease assumption)
    LOCK_STALE_S = 10.0
    LOCK_HEARTBEAT_S = 2.0
    # every Nth commit in the chain persists the full manifest; in between,
    # commits persist only their delta (Iceberg: manifest list + manifests)
    CHECKPOINT_EVERY = 64

    # per-file column statistics (snapshot fmt 2): min/max recorded for the
    # first this many orderable primitive columns (schema order; readers
    # treat a missing stat as "never skip"), strings longer than
    # STATS_MAX_STR get no stat (parquet truncation bounds stay conservative
    # through the footer, but unbounded blobs would bloat the manifest)
    STATS_MAX_COLS = 16
    STATS_MAX_STR = 64

    def __init__(self, root: str, lock: str | None = None):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        # commit-lock mode: "flock" (POSIX fast path), "token" (portable
        # O_EXCL lease — the only protocol an object store can emulate), or
        # "auto" (flock when the platform has it).  Per-catalog config: all
        # writers of one table must agree on the mode.
        self.lock_mode = lock or os.environ.get("ICELITE_LOCK", "auto")
        # one-entry resolution cache (sid, resolved manifest): a writer or
        # streaming sink advancing the chain resolves each new snapshot by
        # applying ONE delta to its parent's cached resolution
        self._mcache: tuple[str, dict] | None = None

    # ------------------------------------------------------------- metadata

    def _snapshot_path(self, sid: str) -> str:
        return os.path.join(self.meta_dir, f"snapshot-{sid}.json")

    def _gen_path(self, seq: int) -> str:
        return os.path.join(self.meta_dir, f"gen-{seq:012d}")

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "current")

    def _abs(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.root, p)

    def current_snapshot_id(self) -> str | None:
        """Resolve the live snapshot: read the `current` HINT, then probe
        generation files FORWARD until the first missing one.

        The generation file (`gen-<seq>`, created put-if-absent) is what
        DECIDES a commit — the hint is advisory and may lag by exactly one
        commit if a writer crashed between its gen-file CAS and the hint
        rewrite, so readers must probe past it.  Probing is O(1) amortized:
        the hint is rewritten on every successful commit, so the forward
        walk is almost always zero or one step."""
        cur = self._hint_path()
        sid: str | None = None
        seq = 0
        try:
            with open(cur) as f:
                parts = f.read().split()
            if parts:
                sid = parts[0]
                # hint format "sid seq"; pre-CAS hints carried only the sid
                seq = int(parts[1]) if len(parts) > 1 else self._load_raw(sid).seq
        except FileNotFoundError:
            pass
        probe = seq + 1 if sid else 1
        while True:
            try:
                with open(self._gen_path(probe)) as f:
                    nxt = f.read().strip()
            except FileNotFoundError:
                return sid
            if nxt:
                sid = nxt
            probe += 1

    def _load_raw(self, sid: str) -> Snapshot:
        """Load one snapshot JSON without resolving its manifest."""
        with open(self._snapshot_path(sid)) as f:
            d = json.load(f)
        # pre-delta metadata files carry neither delta/kind/seq — they are
        # full-manifest snapshots, i.e. checkpoints
        d.setdefault("delta", None)
        d.setdefault("kind", "checkpoint" if d.get("partitions") is not None else "delta")
        d.setdefault("seq", 1)
        d.setdefault("fmt", 1)  # pre-stats metadata: no per-file min/max
        d.setdefault("schema", None)  # pre-evolution metadata: files' own
        d.setdefault("partition_col", None)
        return Snapshot(**d)

    def _resolve(self, snap: Snapshot) -> Snapshot:
        """Fill ``snap.partitions`` with the full manifest: walk parents to
        the nearest checkpoint (or cache hit), fold deltas forward.  Cost is
        ≤ CHECKPOINT_EVERY JSON reads cold, one delta application when the
        parent's resolution is cached (the linear-chain hot path).

        Reads are lock-free, so a concurrent ``expire_snapshots`` can unlink
        an ancestor mid-walk (expire rewrites the oldest SURVIVOR as a
        checkpoint before unlinking, so the surviving chain is always
        resolvable — but a walk that loaded the boundary snapshot before
        that rewrite can chase a just-deleted parent).  A vanished ancestor
        therefore retries the walk: the re-read boundary file is now a
        checkpoint and the walk terminates there — the same
        retry-on-expired-metadata contract Iceberg readers follow.  Only if
        the TARGET snapshot itself was expired does the error propagate."""
        if snap.partitions is not None:
            self._mcache = (snap.snapshot_id, snap.partitions)
            return snap
        orig = snap  # callers (snapshots()) rely on in-place mutation
        for attempt in range(5):
            chain: list[Snapshot] = []
            s = snap
            base: dict | None = None
            try:
                while True:
                    if self._mcache is not None and self._mcache[0] == s.snapshot_id:
                        base = self._mcache[1]
                        break
                    if s.partitions is not None:
                        base = s.partitions
                        break
                    chain.append(s)
                    if s.parent_id is None:  # root is always a checkpoint; defensive
                        base = {}
                        break
                    s = self._load_raw(s.parent_id)
            except (FileNotFoundError, json.JSONDecodeError):
                # FileNotFoundError: a concurrent expire unlinked an ancestor
                # mid-walk.  JSONDecodeError: defensive — the survivor
                # rewrite is an atomic replace on POSIX, but an object-store
                # backend without atomic rename could still tear a read.
                if attempt == 4:
                    raise
                # re-read the whole chain from the target: the snapshot a
                # concurrent expire re-checkpointed now carries its full
                # manifest, so the next walk stops before the gap
                snap = self._load_raw(snap.snapshot_id)
                time.sleep(0.01 * attempt)
                continue
            for d in reversed(chain):
                base = _apply_delta(base, d.delta)
            orig.partitions = base
            self._mcache = (orig.snapshot_id, base)
            return orig

    def snapshot(self, sid: str | None = None) -> Snapshot | None:
        sid = sid or self.current_snapshot_id()
        if sid is None:
            return None
        return self._resolve(self._load_raw(sid))

    def snapshots(self) -> list[Snapshot]:
        """All snapshots, oldest first, each with its RESOLVED manifest —
        maintenance/introspection surface (O(#commits); the commit and read
        hot paths never call this)."""
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snapshot-"):
                sid = name[len("snapshot-"):-len(".json")]
                out.append(self._load_raw(sid))
        out.sort(key=lambda s: (s.seq, s.committed_at))
        # resolving in chain order makes each resolution hit the parent's
        # cache entry → one delta application per snapshot, and shallow
        # copy-on-write shares unchanged partition entries across snapshots
        for s in out:
            self._resolve(s)
        return out

    # --------------------------------------------------------------- locking

    def _lock_path(self) -> str:
        return os.path.join(self.meta_dir, ".commit.lock")

    def _token_path(self) -> str:
        return os.path.join(self.meta_dir, ".commit.token")

    def _acquire_lock(self):
        """Commit mutual exclusion.  Two implementations behind one handle:

        * ``flock`` (POSIX fast path): flock(2) on a persistent lock file.
          The lock is tied to the holder's open file description, so the
          kernel releases it the instant the holder exits or crashes —
          no stale-lock state, no reclamation heuristic, and none of the
          stat/rename TOCTOU races a presence-based lock navigates.  The
          lock FILE is never unlinked: unlink-on-release would let a later
          opener lock a fresh inode while an earlier waiter still holds the
          old one — two "holders" at once.

        * ``token`` (portable default where flock doesn't exist — object
          stores, NFS without lockd): an O_EXCL-created token file holding
          the owner id, kept fresh by a heartbeat thread renewing its mtime
          (a lease).  A token not renewed for LOCK_STALE_S marks a dead
          holder; stealing is an atomic ``rename`` of the stale token to a
          grave name — exactly one stealer wins the rename, and the winner
          STILL has to win the ordinary O_EXCL create, so a fresh token
          re-created in the stat→rename window is renamed away at worst,
          never adopted.  This is the conditional-put/lease protocol an
          object-store catalog (S3 If-None-Match, GCS x-goog-if-generation)
          implements natively; the filesystem emulation assumes
          heartbeat ≪ staleness, the standard lease assumption.

        A real deployment replaces either with the catalog's atomic
        compare-and-swap (Iceberg REST / Hive lock / DynamoDB conditional
        put); these are the single-host emulations of that service.
        """
        mode = self.lock_mode
        if mode == "auto":
            mode = "flock" if fcntl is not None else "token"
        if mode == "flock":
            if fcntl is None:
                raise RuntimeError("lock='flock' requested but fcntl is unavailable")
            return ("flock", self._acquire_flock())
        if mode == "token":
            return self._acquire_token()
        if mode == "none":
            # commits are already serialized by the gen-file put-if-absent
            # CAS (see _commit); "none" is the honest object-store mode when
            # no lease service exists — contended writers just pay wasted
            # snapshot writes, and expire_snapshots must be run from a
            # single maintenance owner by deployment convention
            return ("none",)
        raise ValueError(f"unknown lock mode {mode!r}")

    def _acquire_flock(self) -> int:
        os.makedirs(self.meta_dir, exist_ok=True)
        fd = os.open(self._lock_path(), os.O_CREAT | os.O_RDWR)
        deadline = time.monotonic() + self.LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except OSError:
                if time.monotonic() > deadline:
                    os.close(fd)
                    raise TimeoutError(f"commit lock busy: {self._lock_path()}")
                time.sleep(0.005)

    def _acquire_token(self):
        os.makedirs(self.meta_dir, exist_ok=True)
        token = self._token_path()
        owner = uuid.uuid4().hex
        payload = json.dumps({"owner": owner, "pid": os.getpid()})
        deadline = time.monotonic() + self.LOCK_TIMEOUT_S
        while True:
            try:
                fd = os.open(token, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    f.write(payload)
                # read-back validation: a stealer acting on STALE stat data
                # could have renamed our fresh token away in the create
                # window (it restores it — see below — but our write may
                # have landed between its rename and restore).  Confirm the
                # token at the path is OURS before claiming the lock.
                try:
                    with open(token) as f:
                        mine = json.load(f).get("owner") == owner
                except (OSError, json.JSONDecodeError):
                    mine = False
                if not mine:
                    continue
                hb = _Heartbeat(token, self.LOCK_HEARTBEAT_S)
                hb.start()
                return ("token", token, owner, hb)
            except FileExistsError:
                try:
                    observed = os.stat(token)
                except FileNotFoundError:
                    continue  # released between attempts — retry the create
                if time.time() - observed.st_mtime > self.LOCK_STALE_S:
                    # dead holder — steal with an IDENTITY-verified rename.
                    # The grave name is derived from the observed inode, so
                    # every stealer that statted the same stale token
                    # targets the same grave: exactly one rename succeeds,
                    # the losers see FileNotFoundError and rejoin the race.
                    # If the winner already recreated a FRESH token before a
                    # loser's rename lands, the loser would rename a LIVE
                    # lock away — so after the rename, the inode is checked
                    # against what was statted and a mismatched (fresh)
                    # token is renamed straight back.  A real object store
                    # closes this class with a conditional delete (S3
                    # If-Match / GCS if-generation-match); the restore +
                    # the acquirer's read-back validation above are the
                    # filesystem emulation of that conditional.
                    grave = token + f".stale.{observed.st_ino}"
                    try:
                        os.rename(token, grave)
                    except OSError:  # incl. FileNotFoundError (lost the race)
                        continue
                    try:
                        if os.stat(grave).st_ino != observed.st_ino:
                            os.rename(grave, token)  # live token — restore
                            continue
                    except FileNotFoundError:
                        continue
                    try:
                        os.unlink(grave)
                    except FileNotFoundError:
                        pass
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit token busy: {token}")
                time.sleep(0.005)

    def _lock_still_owned(self, handle) -> bool:
        """True if this process still owns the exclusion the handle claims.
        flock: the kernel guarantees it while the fd is open.  token: the
        lease can have been stolen (staleness misjudged, or the documented
        steal/restore race) — re-read the token and compare owners.
        "none": the caller opted out of exclusion; nothing to verify."""
        if handle[0] != "token":
            return True
        _, token, owner, hb = handle
        if hb.lost:
            return False
        try:
            with open(token) as f:
                return json.load(f).get("owner") == owner
        except (OSError, json.JSONDecodeError):
            return False

    def _release_lock(self, handle) -> None:
        if handle[0] == "none":
            return
        if handle[0] == "flock":
            fd = handle[1]
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
            return
        _, token, owner, hb = handle
        hb.stop()
        if hb.lost:
            return  # renewal saw the token gone repeatedly — nothing ours left
        # unlink only our own token.  The read→unlink window is unsafe only
        # if this holder ALREADY went stale (≥ LOCK_STALE_S of missed
        # heartbeats while alive) and was stolen+recreated in between — the
        # same assumption every lease breaks under; an object-store catalog
        # closes it with a conditional delete (S3 If-Match).
        try:
            with open(token) as f:
                mine = json.load(f).get("owner") == owner
        except (OSError, json.JSONDecodeError):
            return  # stolen or torn — nothing of ours left to release
        if mine:
            try:
                os.unlink(token)
            except FileNotFoundError:
                pass

    # --------------------------------------------------------------- commit

    def _next_snapshot(
        self,
        prev: Snapshot | None,
        operation: str,
        mode: str,
        parts: dict,
        lineage: dict | None,
        schema: dict | None = None,
        partition_col: str | None = None,
    ) -> Snapshot:
        """Build the child snapshot of ``prev`` for a commit that changed
        ``parts``: a checkpoint at the cadence boundary (full manifest),
        otherwise a delta carrying only the changed partitions.  ``schema``
        is the evolved table schema for this commit (None = inherit)."""
        seq = (prev.seq + 1) if prev else 1
        delta = {
            "mode": mode,
            "parts": _stamp_seq(parts, prev.partitions if prev else None, mode, seq),
        }
        resolved = _apply_delta(prev.partitions if prev else {}, delta)
        kind = "checkpoint" if (prev is None or seq % self.CHECKPOINT_EVERY == 0) else "delta"
        fmt = 3 if any(m.get("deletes") or "fseq" in m for m in resolved.values()) else 2
        return Snapshot(
            snapshot_id=uuid.uuid4().hex[:16],
            parent_id=prev.snapshot_id if prev else None,
            operation=operation,
            partitions=resolved,
            delta=delta,
            kind=kind,
            seq=seq,
            fmt=fmt,
            lineage=lineage or {},
            schema=schema if schema is not None else (prev.schema if prev else None),
            partition_col=(
                partition_col
                if partition_col is not None
                else (prev.partition_col if prev else None)
            ),
        )

    TORN_GEN_STALENESS = 5.0  # seconds before an empty gen file is reclaimable

    def _reclaim_torn_gen(self, seq: int) -> bool:
        """True if gen-<seq> was a torn publish (EMPTY — possible only from
        a pre-link-protocol crash between create and write) older than the
        staleness bound, now unlinked so the caller may retry its CAS.
        A non-empty gen file is a real committed generation: never touched."""
        path = self._gen_path(seq)
        try:
            st = os.stat(path)
            if st.st_size > 0 or (time.time() - st.st_mtime) < self.TORN_GEN_STALENESS:
                return False
            os.unlink(path)
            return True
        except (FileNotFoundError, OSError):
            return False

    def _drop_commit_tmp(self, gtmp: str, snap: Snapshot) -> None:
        """Lost the generation race: our snapshot JSON was never referenced —
        remove it and the tmp so retries don't accumulate orphans."""
        for p in (gtmp, self._snapshot_path(snap.snapshot_id)):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass

    def _commit(self, snap: Snapshot, expected_parent: str | None) -> Snapshot:
        """Optimistic-concurrency commit.  What DECIDES the commit is a
        PUT-IF-ABSENT of the generation file `gen-<seq>` (atomic hard-link
        publish: link(2) fails EEXIST exactly like O_EXCL, but the visible
        file is complete-with-content — the Delta-Lake/S3-If-None-Match
        protocol): two writers deriving
        children of the same parent compute the same seq, exactly one
        O_EXCL create succeeds, the loser gets CommitConflict and retries
        metadata-only.  This is atomic on any store with a conditional
        put, so commit CORRECTNESS does not depend on the commit lock at
        all — the lock (flock / token lease / "none") is a contention
        optimization that avoids wasted snapshot writes, plus the
        serialization expire_snapshots needs; even if a lease misbehaves
        and two holders slip through, the gen-file CAS still serializes
        them correctly (one conflicts, none is lost).

        Ordering: snapshot JSON first, then the gen CAS, then the `current`
        hint rewrite — a crash after the CAS leaves the commit durable
        (readers probe generations past the hint), a crash before it leaves
        an unreferenced orphan JSON."""
        os.makedirs(self.meta_dir, exist_ok=True)  # lock="none" has no acquire-side mkdir
        fd = self._acquire_lock()
        try:
            if self.current_snapshot_id() != expected_parent:
                raise CommitConflict(
                    f"expected parent {expected_parent!r}, found "
                    f"{self.current_snapshot_id()!r}"
                )
            snap.committed_at = time.time()
            with open(self._snapshot_path(snap.snapshot_id), "w") as f:
                json.dump(snap.to_json(), f, indent=2, default=str)
            # Publish the generation file ATOMICALLY WITH ITS CONTENT: write
            # the sid to a private tmp, then hard-link it to gen-<seq> —
            # link(2) fails with EEXIST exactly like O_EXCL, but the file
            # that becomes visible is always complete.  The previous
            # create-then-write left a window (crash / ENOSPC between the
            # two) that published an EMPTY gen file with no reclamation
            # path: every later writer derived the same seq, hit
            # FileExistsError forever, and the table was write-wedged —
            # while a torn sid crashed readers in _load_raw.
            gtmp = os.path.join(self.meta_dir, f".gen.{snap.snapshot_id}")
            with open(gtmp, "w") as f:
                f.write(snap.snapshot_id)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(gtmp, self._gen_path(snap.seq))
            except FileExistsError:
                # lost the generation race — UNLESS the existing file is a
                # legacy torn/empty publish (pre-link-era crash): those are
                # unreadable garbage nobody references, so reclaim after a
                # staleness bound instead of wedging the table forever.
                if self._reclaim_torn_gen(snap.seq):
                    try:
                        os.link(gtmp, self._gen_path(snap.seq))
                    except (FileExistsError, OSError):
                        self._drop_commit_tmp(gtmp, snap)
                        raise CommitConflict(
                            f"generation {snap.seq} already committed by another writer"
                        )
                else:
                    self._drop_commit_tmp(gtmp, snap)
                    raise CommitConflict(
                        f"generation {snap.seq} already committed by another writer"
                    )
            finally:
                try:
                    os.unlink(gtmp)
                except FileNotFoundError:
                    pass
            tmp = os.path.join(self.meta_dir, f".current.{snap.snapshot_id}")
            with open(tmp, "w") as f:
                f.write(f"{snap.snapshot_id} {snap.seq}")
            os.replace(tmp, self._hint_path())  # hint flip
            self._mcache = (snap.snapshot_id, snap.partitions)
            return snap
        finally:
            self._release_lock(fd)

    def _commit_delta(
        self,
        operation: str,
        mode: str,
        parts: dict,
        lineage: dict | None,
        data_fields: list[dict] | None = None,
        partition_col: str | None = None,
    ) -> Snapshot:
        """Shared optimistic-retry loop for append/overwrite: derive a child
        of the current head, CAS-commit, re-derive on a lost race.  Lost
        races back off with a per-process stagger — under lock="none" the
        gen-file CAS is the only serializer, and hot-spinning contenders
        can otherwise starve one writer for many consecutive rounds.

        ``data_fields`` (StructType.jsonValue()["fields"] of the written
        data columns) evolves the table schema; the merge runs INSIDE the
        retry loop against each freshly-read head, so a concurrent writer's
        add-column is honored rather than clobbered."""
        for attempt in range(50):
            prev = self.snapshot()
            schema = (
                _evolve_schema(prev.schema if prev else None, data_fields, operation)
                if data_fields is not None
                else None
            )
            try:
                return self._commit(
                    self._next_snapshot(
                        prev, operation, mode, parts, lineage, schema, partition_col
                    ),
                    expected_parent=prev.snapshot_id if prev else None,
                )
            except CommitConflict:
                time.sleep(min(0.002 * attempt, 0.05) + (os.getpid() % 16) * 0.0004)
                continue
        raise CommitConflict(f"{operation} lost 50 consecutive commit races")

    # ------------------------------------------------------------- write

    def _precheck_schema(self, df: DataFrame, partition_col: str | None, op: str) -> list[dict]:
        """Fail an incompatible write BEFORE the (expensive) Spark file
        write; the authoritative schema merge re-runs inside _commit_delta's
        retry loop against each freshly-read head.

        Also the partition-SPEC guard: mixing partition columns would merge
        incompatible key spaces into one manifest (read(partitions=) and
        partition-predicate routing would silently return wrong subsets).
        Partition evolution needs an explicit full rewrite (overwrite of
        every partition under the new column)."""
        fields = _data_fields(df, partition_col)
        prev = self.snapshot()
        if prev is not None:
            prev_unpart = (
                prev.partition_col is None and set(prev.partitions) == {"__all__"}
            )
            mismatch = (
                # different partition columns
                (
                    prev.partition_col is not None
                    and partition_col is not None
                    and partition_col != prev.partition_col
                )
                # provably-unpartitioned table vs a partitioned write
                or (prev_unpart and partition_col is not None)
                # partitioned table vs an unpartitioned write ("__all__"
                # would land beside the real keys); legacy metadata with
                # partition_col=None but real keys gets the same guard
                or (not prev_unpart and prev.partitions and partition_col is None)
            )
            if mismatch:
                raise ValueError(
                    f"table is partitioned by {prev.partition_col!r}; {op} "
                    f"with partition_col={partition_col!r} would mix "
                    "partition key spaces — rewrite the table to change "
                    "partitioning"
                )
        _evolve_schema(prev.schema if prev else None, fields, op)
        return fields

    def _write_partition_files(
        self, df: DataFrame, partition_col: str | None, cluster: str = "roundrobin"
    ) -> dict:
        """Write data files for this commit into a unique subdir and return
        the partition manifest {value: {files, rows}}.  Records a timing
        breakdown in ``self.last_write_timings`` (spark write vs driver-side
        footer/manifest work) for the scaling harness."""
        t_start = time.time()
        commit_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex[:12]}")
        if partition_col is None:
            df.write.mode("overwrite").parquet(commit_dir)
            import pyarrow.parquet as pq

            paths = [
                os.path.join(commit_dir, name)
                for name in os.listdir(commit_dir)
                if name.endswith(".parquet")
            ]
            # row counts AND per-file column min/max from the parquet
            # FOOTERS just written — metadata-only reads, no second Spark
            # scan of fresh data (the partitioned path below already proved
            # footers suffice)
            pfs = [pq.ParquetFile(p) for p in paths]
            scols = _auto_stats_cols(pfs[0], self.STATS_MAX_COLS) if pfs else []
            rows = int(sum(pf.metadata.num_rows for pf in pfs))
            files = [os.path.relpath(p, self.root) for p in paths]
            stats = [_file_stats(pf, scols, self.STATS_MAX_STR) for pf in pfs]
            return {"__all__": {"files": files, "rows": rows, "stats": stats}}
        # write clustering tradeoff:
        #   asis — NO extra exchange: write straight from the caller's
        #     partitioning (the co-partitioned tier plan arrives hash-
        #     clustered on conv_id with full parallelism — re-shuffling a
        #     36M-row tier just to pick writers was the single biggest
        #     avoidable data movement in the rollup phase).
        #   roundrobin — every core writes concurrently regardless of how few
        #     partition values exist (day-clustering caps writers at #days and
        #     hash collisions cut that further); cost: tasks×partitions files.
        #   bypart — one file per partition value; right for SMALL commits
        #     (1h/1d) whose readers would otherwise face a tiny-file storm.
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if cluster == "bypart":
            df = df.repartition(parallelism, partition_col)
        elif cluster == "roundrobin":
            df = df.repartition(parallelism)
        (
            df.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(commit_dir)
        )
        t_written = time.time()
        # per-partition row counts from the parquet FOOTERS just written —
        # metadata-only reads, no extra Spark job, and the manifest still
        # reflects exactly what landed on disk; footer reads are I/O-bound,
        # so a thread pool keeps the driver-side commit under a second even
        # for ~1000 files
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        part_files: dict[str, list[str]] = {}
        for entry in os.listdir(commit_dir):
            if "=" not in entry:
                continue
            # Spark escapes special chars (space, ':', '%', …) in partition
            # directory names; manifest keys carry the LOGICAL value so
            # read(partitions=[...]) / committed_partitions() match what the
            # caller wrote
            value = unquote(entry.split("=", 1)[1])
            pdir = os.path.join(commit_dir, entry)
            part_files[value] = [
                os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")
            ]
        all_files = [f for fs in part_files.values() for f in fs]
        scols_box: list[list[str] | None] = [None]
        scols_lock = threading.Lock()

        def footer(p):
            pf = pq.ParquetFile(p)
            with scols_lock:
                if scols_box[0] is None:
                    scols_box[0] = _auto_stats_cols(pf, self.STATS_MAX_COLS)
            return (
                pf.metadata.num_rows,
                _file_stats(pf, scols_box[0], self.STATS_MAX_STR),
            )

        with ThreadPoolExecutor(max_workers=16) as ex:
            meta = dict(zip(all_files, ex.map(footer, all_files)))
        manifest = {}
        for value, fs in part_files.items():
            manifest[value] = {
                # manifest paths are TABLE-ROOT-RELATIVE so a table directory
                # can be relocated wholesale
                "files": [os.path.relpath(f, self.root) for f in fs],
                "rows": int(sum(meta[f][0] for f in fs)),
                # per-file column min/max, aligned with `files` (fmt 2)
                "stats": [meta[f][1] for f in fs],
            }
        self.last_write_timings = {
            "write_s": round(t_written - t_start, 2),
            "manifest_s": round(time.time() - t_written, 2),
            "n_files": len(all_files),
        }
        return manifest

    def append(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        lineage: dict | None = None,
        cluster: str = "roundrobin",
    ) -> Snapshot:
        fields = self._precheck_schema(df, partition_col, "append")
        new = self._write_partition_files(df, partition_col, cluster)
        return self._commit_delta("append", "append", new, lineage, fields, partition_col)

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        lineage: dict | None = None,
        cluster: str = "roundrobin",
    ) -> Snapshot:
        """Idempotent re-roll: replace exactly the partitions present in df
        (late-data handling — SURVEY.md §2 streaming notes)."""
        fields = self._precheck_schema(df, partition_col, "overwrite")
        new = self._write_partition_files(df, partition_col, cluster)
        return self._commit_delta("overwrite", "replace", new, lineage, fields, partition_col)

    def _write_delete_key_files(
        self, keys_df: DataFrame, key_cols: list[str], partition_col: str | None
    ) -> dict:
        """Write equality-delete KEY files — one small parquet per touched
        partition holding just the distinct key columns — and return
        ``{partition_value: [{"file": relpath, "rows": n}, ...]}``."""
        import pyarrow.parquet as pq

        dd = os.path.join(self.data_dir, f"deletes-{uuid.uuid4().hex[:12]}")
        if partition_col is None:
            keys_df.select(*key_cols).distinct().coalesce(1).write.mode(
                "overwrite"
            ).parquet(dd)
            kfs = [
                {
                    "file": os.path.relpath(p, self.root),
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                }
                for n in os.listdir(dd)
                if n.endswith(".parquet")
                for p in [os.path.join(dd, n)]
                if pq.ParquetFile(p).metadata.num_rows
            ]
            return {"__all__": kfs} if kfs else {}
        (
            keys_df.select(partition_col, *key_cols)
            .distinct()
            # hash on the partition col: each partition's keys land in ONE
            # task -> one key file per partition, however many partitions
            # one commit touches
            .repartition(partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(dd)
        )
        out: dict = {}
        for entry in os.listdir(dd):
            if "=" not in entry:
                continue
            value = unquote(entry.split("=", 1)[1])
            pdir = os.path.join(dd, entry)
            kfs = [
                {
                    "file": os.path.relpath(p, self.root),
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                }
                for n in os.listdir(pdir)
                if n.endswith(".parquet")
                for p in [os.path.join(pdir, n)]
                if pq.ParquetFile(p).metadata.num_rows
            ]
            if kfs:
                out[value] = kfs
        return out

    def upsert(
        self,
        df: DataFrame,
        key_cols: list[str],
        partition_col: str | None = None,
        lineage: dict | None = None,
        cluster: str = "roundrobin",
    ) -> Snapshot:
        """MERGE (latest-wins upsert), MERGE-ON-READ — the icelite analogue
        of Iceberg v2 equality deletes: one commit appends the batch's data
        files PLUS a tiny per-partition equality-delete key file
        (``distinct`` key columns of the batch).  A delete masks exactly the
        rows of OLDER files (file ``fseq`` < delete seq) whose keys match,
        so prior versions of the upserted keys disappear from reads while
        the batch's own rows — born at this commit's seq — survive.

        Why this shape at 100 TB: commit cost is O(batch) — no existing
        file is read, rewritten, or even listed, versus copy-on-write,
        which rewrites every file that contains an updated key.  Readers
        pay one BROADCAST left-anti join per pending key-column set (key
        files are tiny next to data; no shuffle of the data side);
        ``compact_partition`` materializes the backlog and restores the
        zero-join fast path — schedule it off ``pending_deletes()``.
        Replaying a batch is idempotent: the replay's delete masks the
        original copy and the re-appended rows take over.

        Scope: deletes are PARTITION-SCOPED (exactly Iceberg's
        partition-scoped delete files) — a key that MOVES partitions between
        batches is not retracted from its old partition; retract explicitly
        with ``delete_by_keys`` first.  Key columns must be non-null (an
        equality join never matches NULL keys, so NULL-keyed old rows would
        survive).  Time travel to pre-upsert snapshots still sees the old
        rows until ``expire_snapshots``."""
        keys_in_file = [k for k in key_cols if k != partition_col]
        if not keys_in_file:
            raise ValueError(
                "key_cols must include a non-partition column — to replace "
                "whole partitions use overwrite_partitions"
            )
        fields = self._precheck_schema(df, partition_col, "upsert")
        # the data-file and delete-key writes are independent Spark jobs
        # over the same immutable batch — submit them from two driver
        # threads so the key write back-fills executors freed by the data
        # write's tail instead of waiting for it (guide-standard job
        # overlap; Spark's scheduler is thread-safe)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fut_new = ex.submit(self._write_partition_files, df, partition_col, cluster)
            fut_keys = ex.submit(
                self._write_delete_key_files, df, keys_in_file, partition_col
            )
            new = fut_new.result()
            kman = fut_keys.result()
        parts = {}
        for value, m in new.items():
            entry = dict(m)
            entry["fseq"] = [None] * len(m["files"])  # born at the commit seq
            entry["deletes"] = [
                {"file": kf["file"], "keys": keys_in_file, "seq": None, "rows": kf["rows"]}
                for kf in kman.get(value, [])
            ]
            parts[value] = entry
        return self._commit_delta(
            "upsert", "append", parts, lineage, fields, partition_col
        )

    def delete_by_keys(
        self,
        keys_df: DataFrame,
        key_cols: list[str],
        lineage: dict | None = None,
    ) -> Snapshot | None:
        """Row-level DELETE by key, MERGE-ON-READ: commits only equality-
        delete key files — O(keys) metadata + key bytes, zero data-file
        I/O — where copy-on-write would rewrite every file containing a
        match (purge these conv_ids / documents).

        If ``keys_df`` carries the table's partition column the deletes are
        scoped to those partitions; otherwise ONE shared key file is
        attached to every partition (delete-across-the-table, e.g. a
        conv_id purge over all days).  Matching rows vanish from reads
        immediately; physical reclamation happens at ``compact_partition``
        + ``expire_snapshots``.  Returns None when the table is empty or no
        keys were provided (nothing committed)."""
        snap = self.snapshot()
        if snap is None:
            return None
        pcol = snap.partition_col
        keys_in_file = [k for k in key_cols if k != pcol]
        if not keys_in_file:
            raise ValueError(
                "key_cols must include a non-partition column — to replace "
                "whole partitions use overwrite_partitions"
            )
        scoped = pcol is not None and pcol in keys_df.columns
        kman = self._write_delete_key_files(
            keys_df, keys_in_file, pcol if scoped else None
        )
        if not scoped and "__all__" in kman and pcol is not None:
            kman = {v: kman["__all__"] for v in snap.partitions}
        parts = {}
        orphans: list[str] = []
        for value, kfs in kman.items():
            if value not in snap.partitions:
                orphans.extend(kf["file"] for kf in kfs)
                continue
            parts[value] = {
                "files": [],
                "rows": 0,
                "stats": [],
                "fseq": [],
                "deletes": [
                    {
                        "file": kf["file"],
                        "keys": keys_in_file,
                        "seq": None,
                        "rows": kf["rows"],
                    }
                    for kf in kfs
                ],
            }
        for f in set(orphans) - {
            kf["file"] for v in parts.values() for kf in v["deletes"]
        }:
            try:  # key files for partitions the table doesn't have
                os.unlink(f if os.path.isabs(f) else os.path.join(self.root, f))
            except FileNotFoundError:
                pass
        if not parts:
            return None
        return self._commit_delta(
            "delete",
            "append",
            parts,
            lineage or {"delete_by_keys": list(key_cols)},
        )

    def pending_deletes(self, snapshot_id: str | None = None) -> dict:
        """Per-partition equality-delete backlog:
        ``{value: {"files": n, "rows": n}}`` (rows = key rows, an upper
        bound on masked data rows).  Empty = no pending deletes; ``read``
        takes the zero-join fast path and ``rows()`` is exact.  Drives
        compaction scheduling — ``compact_partition`` materializes a
        partition's backlog and drops its entries."""
        snap = self.snapshot(snapshot_id)
        out: dict = {}
        if snap is None:
            return out
        for value, m in snap.partitions.items():
            dels = m.get("deletes") or []
            if dels:
                out[value] = {
                    "files": len(dels),
                    "rows": int(sum(d.get("rows", 0) for d in dels)),
                }
        return out

    # ------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        partitions: list[str] | None = None,
        where: dict | None = None,
    ) -> DataFrame:
        """Read a snapshot (default: current), optionally pruned to given
        partition values — manifest-level partition pruning, so Spark never
        even lists the skipped files.

        ``where`` adds FILE-LEVEL skipping from the fmt-2 per-file column
        min/max (the icelite analogue of Iceberg's metrics-based scan
        planning): ``{col: ("=", v) | ("<"|"<="|">"|">=", v) |
        ("between", lo, hi) | ("in", [v, ...])}``.  A file is dropped only
        when its recorded range PROVABLY excludes the predicate; files or
        columns without stats are always read.  The same predicates are
        ALSO applied as Spark filters, so ``where`` has exact filter
        semantics with scan-planning acceleration — on a 100-TB table a
        point lookup (one conv_id, one hour) touches the few files whose
        range covers it instead of every file of the matching day.
        ``self.last_scan`` records (files_considered, files_read) for plan
        assertions and the bench harness."""
        had_where = bool(where)
        snap, classes, dentries, where = self._plan_scan(snapshot_id, partitions, where)
        if not classes:
            if had_where:
                # every file provably excluded: an empty scan with the
                # TARGET SCHEMA
                return self._apply_where(self._empty(spark, snap), where)
            raise ValueError("no files match the partition filter")
        df = self._masked_scan(spark, snap, classes, dentries)
        return self._apply_where(df, where) if where else df

    def _plan_scan(
        self,
        snapshot_id: str | None = None,
        partitions: list[str] | None = None,
        where: dict | None = None,
    ) -> tuple[Snapshot, dict, dict, dict | None]:
        """Scan planning shared by ``read`` and the Spark data source
        (icelite_source): resolve the target snapshot, apply manifest-level
        partition pruning (incl. routing a partition-column predicate out of
        ``where``), file-level min/max skipping, and group surviving data
        files into delete-equivalence classes.  Returns ``(snap, classes,
        dentries, residual_where)`` where ``residual_where`` is the exact
        row-level filter the caller must still apply (``where`` minus the
        partition-column predicate, which partition pruning satisfied
        exactly).  Sets ``self.last_scan``."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        preds = None
        if where and snap.partition_col is not None and snap.partition_col in where:
            # the partition column lives in manifest KEYS, not data files:
            # its predicate prunes partitions exactly (value == key) and
            # must not reach the Spark filter.  Values compare as strings
            # (manifest keys are strings; day-style keys sort correctly).
            where = dict(where)
            op, *args = where.pop(snap.partition_col)
            if not all(
                isinstance(a, str) for a in (args[0] if op == "in" else args)
            ):
                raise ValueError(
                    f"partition-column predicate on {snap.partition_col!r} "
                    "must use string values (manifest keys are strings)"
                )
            pargs = (args[0],) if op == "in" else tuple(args)
            matched = [
                v
                for v in snap.partitions
                if not _ranges_disjoint(v, v, op, pargs)
            ]
            partitions = (
                matched
                if partitions is None
                else [v for v in matched if v in set(partitions)]
            )
        if where:
            preds = self._normalize_preds(where)
        # Collect surviving data files into EQUIVALENCE CLASSES by the set
        # of equality-delete files that apply to them (delete.seq > file's
        # birth fseq — the Iceberg v2 sequence-number rule).  Tables with no
        # pending deletes collapse to one empty-keyed class: the zero-cost
        # fast path below is then exactly the pre-MOR single multi-file scan.
        # Delete entries are per-partition objects (distinct paths), so a
        # class never mixes files governed by different partitions' deletes.
        classes: dict[tuple, list[str]] = {}
        dentries: dict[str, dict] = {}  # delete file path -> its entry
        considered = 0
        for value, m in snap.partitions.items():
            if partitions is not None and value not in partitions:
                continue
            stats = m.get("stats") or [None] * len(m["files"])
            fseqs = m.get("fseq") or [0] * len(m["files"])
            dels = m.get("deletes") or []
            for f, fst, fs in zip(m["files"], stats, fseqs):
                considered += 1
                if preds and fst and self._file_pruned(fst, preds):
                    continue
                key = tuple(d["file"] for d in dels if d["seq"] > fs)
                for d in dels:
                    dentries.setdefault(d["file"], d)
                classes.setdefault(key, []).append(self._abs(f))
        n_read = sum(len(fs) for fs in classes.values())
        self.last_scan = {
            "files_considered": considered,
            "files_read": n_read,
            "delete_files": len({p for key in classes for p in key}),
        }
        return snap, classes, dentries, where

    def _masked_scan(
        self,
        spark: SparkSession,
        snap: Snapshot,
        classes: dict[tuple, list[str]],
        dentries: dict[str, dict],
        partition_of: dict[str, str] | None = None,
    ) -> DataFrame:
        """ONE scan of every file in ``classes`` with its pending equality
        deletes applied as one BROADCAST left-anti join per key-column set
        (delete key files are tiny — O(changed keys) — next to the data they
        mask; at 100 TB the anti join is a map-side hash probe, no shuffle
        of the data side), so a long upsert run adds one anti join, not one
        per commit or per delete-equivalence class.  With more than one
        class, each data file is labelled with its class id and each key
        row is exploded to exactly the class ids its delete file applies to
        (``_labelled_scan``), so the join ON (key cols + class id) is
        row-for-row the per-class anti join — a key only masks rows of
        classes its delete file is attached to.  With one class every key
        masks every file, and the join is ON the key cols alone.
        ``partition_of`` (file → partition value) adds a ``_partition``
        column.  With no pending deletes and no ``partition_of`` this is
        the plain multi-file scan."""
        from pyspark.sql import functions as F

        files = [p for fs in classes.values() for p in fs]
        # key cols -> delete file -> ids of the classes it masks
        by_cols: dict[tuple, dict[str, list[int]]] = {}
        for ci, key in enumerate(classes):
            for p in key:
                by_cols.setdefault(tuple(dentries[p]["keys"]), {}).setdefault(
                    self._abs(p), []
                ).append(ci)
        cls = ["__cls"] if by_cols and len(classes) > 1 else []
        labels: dict[str, list] = {}
        if cls:
            labels["__cls"] = [ci for ci, fs in enumerate(classes.values()) for _ in fs]
        if partition_of is not None:
            labels["_partition"] = [partition_of[p] for p in files]
        if not labels:
            df = self._reader(spark, snap).parquet(*files)
        else:
            df = _labelled_scan(self._reader(spark, snap), files, labels)
        for cols, dmap in by_cols.items():
            if cls:
                keys = (
                    _labelled_scan(spark.read, list(dmap), {"__cls": list(dmap.values())})
                    .select(*cols, "__cls")
                    .distinct()
                    .select(*cols, F.explode("__cls").alias("__cls"))
                )
            else:
                keys = spark.read.parquet(*dmap).select(*cols).distinct()
            df = df.join(F.broadcast(keys), on=[*cols, *cls], how="left_anti")
        return df.drop(*cls)

    def _empty(self, spark: SparkSession, snap: Snapshot) -> DataFrame:
        """A zero-row frame under ``snap``'s pinned schema: a LIMIT 0 scan of
        one of its files keeps the schema without row I/O."""
        probe = next(
            (m["files"][0] for m in snap.partitions.values() if m["files"]), None
        )
        if probe is None:
            raise ValueError("no data files in snapshot")
        return self._reader(spark, snap).parquet(self._abs(probe)).limit(0)

    @staticmethod
    def _reader(spark: SparkSession, snap: Snapshot):
        """Parquet reader pinned to the snapshot's VERSIONED schema: files
        written before an add-column lack the new columns, and Spark
        NULL-backfills any column the explicit read schema has but a file
        doesn't — exactly Iceberg's read-time evolution semantics.  Time
        travel to a pre-evolution snapshot reads under THAT snapshot's
        schema, so the new column genuinely doesn't exist there.
        Pre-evolution metadata (schema=None) reads the files' own schema."""
        if snap.schema is None:
            return spark.read
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(snap.schema))

    def _normalize_preds(self, where: dict) -> dict:
        """Encode predicate values with the same _stat_scalar the writer
        used, so stats comparisons are like-for-like.  An unencodable value
        maps to None (that predicate never skips a file)."""
        preds = {}
        for col, spec in where.items():
            op, *args = spec
            if op == "in":
                norm = [_stat_scalar(a, self.STATS_MAX_STR) for a in args[0]]
                preds[col] = (op, (norm,)) if all(n is not None for n in norm) else None
            else:
                norm = tuple(_stat_scalar(a, self.STATS_MAX_STR) for a in args)
                preds[col] = (op, norm) if all(n is not None for n in norm) else None
        return preds

    @staticmethod
    def _file_pruned(fstats: dict, preds: dict) -> bool:
        """True iff ANY normalized predicate provably excludes this file."""
        cols = fstats.get("__cols__")
        for col, p in preds.items():
            if p is None:
                continue
            if cols is not None and col not in cols:
                # column absent from the file → all NULL on read → no
                # non-null predicate can match (schema-evolution skipping)
                return True
            rng = fstats.get(col)
            if not rng:
                continue
            lo, hi = rng
            op, args = p
            probe = args[0][0] if op == "in" else args[0]
            if type(probe) is not type(lo):
                continue  # incomparable encoding — never skip on it
            if _ranges_disjoint(lo, hi, op, args):
                return True
        return False

    @staticmethod
    def _apply_where(df: DataFrame, where: dict) -> DataFrame:
        from pyspark.sql import functions as F

        for col, spec in where.items():
            op, *args = spec
            c = F.col(col)
            df = df.filter(
                {
                    "=": lambda: c == args[0],
                    "<": lambda: c < args[0],
                    "<=": lambda: c <= args[0],
                    ">": lambda: c > args[0],
                    ">=": lambda: c >= args[0],
                    "between": lambda: c.between(args[0], args[1]),
                    "in": lambda: c.isin(list(args[0])),
                }[op]()
            )
        return df

    def committed_partitions(self) -> set[str]:
        snap = self.snapshot()
        return set(snap.partitions) if snap else set()

    def rows(self, snapshot_id: str | None = None) -> int:
        """PHYSICAL data-file rows from the manifest.  With a pending
        equality-delete backlog (``pending_deletes()`` non-empty) this is an
        upper bound on live rows until compaction materializes the deletes —
        exactly Iceberg's merge-on-read record-count semantics."""
        snap = self.snapshot(snapshot_id)
        return sum(m["rows"] for m in snap.partitions.values()) if snap else 0

    # ----------------------------------------------------------------- CDC

    CDC_COLS = ("_change_type", "_partition", "_commit_seq", "_commit_snapshot_id",
                "_commit_timestamp")

    def _commits_between(self, start_seq: int, end: Snapshot) -> list[Snapshot]:
        """Raw snapshots with ``start_seq < seq <= end.seq``, oldest first —
        the changelog's chain walk (O(commits) tiny JSON reads, no manifest
        resolution).  Raises when the range crosses pre-delta metadata or
        an expired (GC'd) chain segment."""
        chain: list[Snapshot] = []
        s = end
        while s.seq > start_seq:
            if s.delta is None:
                raise ValueError(
                    f"snapshot {s.snapshot_id} (seq {s.seq}) predates delta "
                    "metadata; changelog cannot cross it"
                )
            chain.append(s)
            if s.seq - 1 <= start_seq or s.parent_id is None:
                break
            try:
                s = self._load_raw(s.parent_id)
            except FileNotFoundError:
                raise ValueError(
                    f"changelog start seq {start_seq} has expired: the chain "
                    f"below seq {s.seq} was garbage-collected by "
                    "expire_snapshots"
                ) from None
        chain.reverse()
        return chain

    def read_with_partition(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        partitions: list[str] | None = None,
    ) -> DataFrame | None:
        """``read`` plus a ``_partition`` column carrying each row's
        manifest partition value — one ``_masked_scan`` with the partition
        as a per-file label instead of one full ``read`` per partition (the
        changelog's live sides paid ~30 ms of driver-side reader setup per
        partition per commit).  Returns None when nothing matches the
        partition filter (callers treat it as "no live rows")."""
        snap, classes, dentries, _ = self._plan_scan(snapshot_id, partitions)
        if not classes:
            return None
        partition_of = {
            self._abs(f): value
            for value, m in snap.partitions.items()
            for f in m["files"]
        }
        return self._masked_scan(spark, snap, classes, dentries, partition_of)

    def _conform(
        self, df: DataFrame, end: Snapshot, keep: tuple = ()
    ) -> DataFrame:
        """Project ``df`` onto the END snapshot's data-column schema
        (missing columns NULL-backfilled) so frames from commits on either
        side of a schema evolution union cleanly.  ``keep`` appends named
        pass-through columns (e.g. the changelog's ``_partition``) after
        the data columns."""
        if end.schema is None:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        st = StructType.fromJson(end.schema)
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                for f in st.fields
            ],
            *[F.col(c) for c in keep],
        )

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None = None,
        to_snapshot_id: str | None = None,
    ) -> DataFrame:
        """CHANGELOG between two snapshots — the icelite analogue of
        Iceberg's changelog scan / Delta's Change Data Feed: every row-level
        change committed with ``from.seq < seq <= to.seq``, as data columns
        (END snapshot's schema, NULL-backfilled across evolutions) plus
        ``_change_type`` ('insert' | 'delete'), ``_partition`` (manifest
        key; '__all__' on unpartitioned tables), ``_commit_seq``,
        ``_commit_snapshot_id``, ``_commit_timestamp``.  An upsert emits the
        old row as a delete and the new row as an insert under the same
        ``_commit_seq``; consumers order by it.

        Per-commit cost model (what makes this viable on a 100-TB table):

        * **append** — the commit's own files are read directly (manifest
          file list, no diff, no shuffle).
        * **MOR upsert / delete_by_keys** — inserts from the commit's new
          files; deletes by broadcast SEMI join of the commit's tiny
          equality-delete key files against the PARENT snapshot restricted
          to the touched partitions (rows already masked in the parent are
          not re-deleted — the parent read applies its own pending
          deletes).
        * **compact** (incl. Z-order clustering) — content-preserving by
          its own commit-time conflict checks: emits nothing, costs
          nothing.
        * **overwrite** — the honest case: a logical EXCEPT ALL diff of
          child vs parent, restricted to the partitions the commit touched.
          This is the same work Iceberg's changelog scan does for overwrite
          snapshots.

        Raises when the range crosses an expired (GC'd) chain segment."""
        from functools import reduce

        from pyspark.sql import functions as F

        end_sid = to_snapshot_id or self.current_snapshot_id()
        if end_sid is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        end = self._load_raw(end_sid)
        start_seq = 0
        if from_snapshot_id is not None:
            try:
                start_seq = self._load_raw(from_snapshot_id).seq
            except FileNotFoundError:
                raise ValueError(
                    f"changelog start snapshot {from_snapshot_id} has "
                    "expired (garbage-collected by expire_snapshots)"
                ) from None

        chain = self._commits_between(start_seq, end)

        def stamp(
            df: DataFrame, ctype: str, value: str | None, snap: Snapshot
        ) -> DataFrame:
            # value=None: df is a multi-partition frame already carrying a
            # correct per-row _partition column (the append branch's
            # labelled scans below); a single select keeps the column order
            # identical to the historical per-partition stamping
            if value is not None:
                df = self._conform(df, end).withColumn("_partition", F.lit(value))
            data_cols = [c for c in df.columns if c != "_partition"]
            return df.select(
                *data_cols,
                F.lit(ctype).alias("_change_type"),
                F.col("_partition"),
                F.lit(int(snap.seq)).cast("long").alias("_commit_seq"),
                F.lit(snap.snapshot_id).alias("_commit_snapshot_id"),
                F.lit(float(snap.committed_at)).alias("_commit_timestamp"),
            )

        frames: list[DataFrame] = []
        for snap in chain:
            d = snap.delta
            parent = (
                self._resolve(self._load_raw(snap.parent_id))
                if snap.parent_id is not None
                else None
            )
            pparts = parent.partitions if parent is not None else {}
            if d["mode"] == "append":
                # ONE insert frame and ONE delete frame per (commit,
                # key-column set) instead of one PER PARTITION: the commit's
                # new files and its delete key files are each read by one
                # scan that tags every row with its file's partition
                # (``_labelled_scan``), and the keys are semi-joined ON
                # (keys + _partition), which is row-for-row the same masking
                # as per-partition joins (a key only ever matches rows of
                # the partitions whose manifest entries reference its file;
                # an unscoped delete's one key file is referenced by all).
                ins_part: dict[str, str] = {}
                # key cols -> key file -> partitions it is attached to
                del_groups: dict[tuple, dict[str, list[str]]] = {}
                for value, m in d["parts"].items():
                    for f in m["files"]:
                        ins_part[self._abs(f)] = value
                    for de in m.get("deletes") or ():
                        if value not in pparts or not pparts[value]["files"]:
                            continue  # nothing pre-existing to mask
                        del_groups.setdefault(tuple(de["keys"]), {}).setdefault(
                            self._abs(de["file"]), []
                        ).append(value)
                if ins_part:
                    ins = _labelled_scan(
                        self._reader(spark, end),
                        list(ins_part),
                        {"_partition": list(ins_part.values())},
                    )
                    ins = self._conform(ins, end, keep=("_partition",))
                    frames.append(stamp(ins, "insert", None, snap))
                for keycols, kparts in del_groups.items():
                    live = self.read_with_partition(
                        spark,
                        snapshot_id=parent.snapshot_id,
                        partitions=[v for vs in kparts.values() for v in vs],
                    )
                    if live is None:
                        continue
                    keys = (
                        _labelled_scan(
                            spark.read, list(kparts), {"_partition": list(kparts.values())}
                        )
                        .select(*keycols, "_partition")
                        .distinct()
                        .select(*keycols, F.explode("_partition").alias("_partition"))
                    )
                    live = self._conform(live, end, keep=("_partition",))
                    frames.append(
                        stamp(
                            live.join(
                                F.broadcast(keys),
                                on=[*keycols, "_partition"],
                                how="left_semi",
                            ),
                            "delete", None, snap,
                        )
                    )
                continue
            if snap.operation == "compact":
                continue  # content-preserving replace: no logical change
            # overwrite: per-partition logical diff
            cur = self._resolve(snap).partitions
            for value in sorted(d["parts"]):
                def side(parts, sid):
                    # no data files -> no live rows (delete entries alone
                    # mask nothing)
                    if value not in parts or not parts[value]["files"]:
                        return None
                    return self._conform(
                        self.read(spark, snapshot_id=sid, partitions=[value]), end
                    )
                new_side = side(cur, snap.snapshot_id)
                old_side = side(pparts, parent.snapshot_id if parent else None)
                if new_side is not None:
                    ins = new_side if old_side is None else new_side.exceptAll(old_side)
                    frames.append(stamp(ins, "insert", value, snap))
                if old_side is not None:
                    dels = old_side if new_side is None else old_side.exceptAll(new_side)
                    frames.append(stamp(dels, "delete", value, snap))
        if not frames:
            return stamp(self._empty(spark, self._resolve(end)), "insert", "", end)
        return reduce(DataFrame.unionByName, frames)

    # ------------------------------------------------------- maintenance

    def compact_partition(
        self,
        spark: SparkSession,
        partition_col: str,
        value: str,
        target_files: int = 1,
        lineage: dict | None = None,
        cluster_col: str | list[str] | None = None,
    ) -> Snapshot | None:
        """Rewrite one partition's data files into ``target_files`` files —
        the icelite analogue of Iceberg's rewriteDataFiles (small-file
        compaction): continuous appends (one file per streaming micro-batch,
        one per writer task in the batch path) otherwise degrade scan
        parallelism into a tiny-file storm at 10^5+ commits.

        Content is unchanged: the replacement snapshot points the partition
        at the new files only, older snapshots keep the old files (time
        travel intact until expire_snapshots GCs them), and the commit is
        the same optimistic CAS as append/overwrite.  If another writer
        touched the partition between the rewrite and the commit, the
        compaction SKIPS (returns None, files are cleaned up) rather than
        clobbering the concurrent append — the next maintenance run
        retries, exactly Iceberg's rewrite-conflict behavior."""
        import shutil

        prev = self.snapshot()
        if prev is None or value not in prev.partitions:
            return None
        original = prev.partitions[value]
        df = self.read(spark, partitions=[value])
        if isinstance(cluster_col, (list, tuple)):
            # multi-column rewrite: z-order the partition so per-file
            # min/max stay tight on EVERY listed column (Iceberg's
            # rewrite_data_files sort/zorder strategy)
            df = cluster_zorder(df, list(cluster_col), nparts=max(1, target_files))
        elif cluster_col is not None:
            # preserve a write-time clustering through the rewrite: a plain
            # coalesce would interleave buckets into each output file and
            # destroy the tight per-file min/max that makes read(where=)
            # skip.  RANGE partitioning (not hash — hash collides distinct
            # values into shared files) gives every compacted file a
            # disjoint value range, so a point predicate reads exactly one
            # file
            df = df.repartitionByRange(max(1, target_files), cluster_col)
        else:
            df = df.coalesce(max(1, target_files))
        commit_dir = os.path.join(self.data_dir, f"compact-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(commit_dir)
        import pyarrow.parquet as pq

        paths = [
            os.path.join(commit_dir, n)
            for n in os.listdir(commit_dir)
            if n.endswith(".parquet")
        ]
        pfs = [pq.ParquetFile(p) for p in paths]
        rows = int(sum(pf.metadata.num_rows for pf in pfs))
        if not original.get("deletes") and rows != original["rows"]:
            # a writer touched the partition between snapshot() and read()
            # (the rewrite saw more/fewer rows than the manifest this
            # compaction was planned against) — conflict-skip, same as the
            # manifest check below; never an exception in the sink path.
            # With pending equality deletes the manifest's rows are the
            # PHYSICAL count and read() just materialized the deletes, so
            # fewer rows are expected — the commit-time manifest equality
            # check below is the conflict guard there.
            shutil.rmtree(commit_dir, ignore_errors=True)
            return None
        scols = _auto_stats_cols(pfs[0], self.STATS_MAX_COLS) if pfs else []
        new_manifest = {
            "files": [os.path.relpath(p, self.root) for p in paths],
            "rows": rows,
            "stats": [_file_stats(pf, scols, self.STATS_MAX_STR) for pf in pfs],
        }
        try:
            for _ in range(20):
                prev = self.snapshot()
                if prev.partitions.get(value) != original:
                    # concurrent append/overwrite of this partition since the
                    # rewrite started — abandon, GC our files, retry next run
                    shutil.rmtree(commit_dir, ignore_errors=True)
                    return None
                try:
                    return self._commit(
                        self._next_snapshot(
                            prev,
                            "compact",
                            "replace",
                            {value: new_manifest},
                            lineage or {"compacted": value},
                        ),
                        expected_parent=prev.snapshot_id,
                    )
                except CommitConflict:
                    continue
            raise CommitConflict("compact lost 20 consecutive commit races")
        except Exception:
            # incl. TimeoutError from the commit lock: the rewritten files
            # were never referenced by any snapshot — GC them, don't orphan
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def expire_snapshots(
        self, keep_last: int = 1, older_than_s: float | None = None
    ) -> dict:
        """Expire old snapshots and GC the data files only they reference —
        the icelite analogue of Iceberg's expireSnapshots: without it a
        long-lived table pins every file ever written (compaction and
        overwrite never physically delete).

        Retains the newest ``keep_last`` snapshots, everything newer than
        ``older_than_s`` seconds, and ALWAYS the current snapshot.  Before
        expired metadata is unlinked, the OLDEST retained snapshot is
        rewritten as a checkpoint (full manifest) — retained snapshots are a
        suffix of the linear commit chain, so that one rewrite keeps every
        survivor resolvable without its expired ancestors.  Runs entirely
        under the commit lock (maintenance, not hot path) so no concurrent
        commit can add a reference while the live-file set is computed; the
        flock survives arbitrarily long GC loops (no staleness heuristic to
        outrun).  Returns {"snapshots_removed": n, "files_removed": n}."""
        fd = self._acquire_lock()
        try:
            snaps = self.snapshots()  # resolved, oldest first
            current = self.current_snapshot_id()
            cutoff = time.time() - older_than_s if older_than_s is not None else None
            by_id = {s.snapshot_id: s for s in snaps}
            # the retention suffix counts the chain behind the head only:
            # a crash-orphaned snapshot JSON (written, never won its gen
            # CAS) shares a seq with a committed one and must not take its
            # place in the suffix
            head_chain: set[str] = set()
            sid = current
            while sid is not None and sid in by_id:
                head_chain.add(sid)
                sid = by_id[sid].parent_id
            chain = [s for s in snaps if s.snapshot_id in head_chain]
            keep: set[str] = set(s.snapshot_id for s in chain[-keep_last:]) if keep_last else set()
            if current:
                keep.add(current)
            if cutoff is not None:
                keep.update(s.snapshot_id for s in snaps if s.committed_at >= cutoff)
            expired = [s for s in snaps if s.snapshot_id not in keep]
            if not expired:
                return {"snapshots_removed": 0, "files_removed": 0}
            # keep the survivors resolvable: any retained snapshot whose
            # parent is expiring (the suffix's oldest, and any orphan kept
            # by the age bound) is rewritten as a checkpoint before its
            # ancestors disappear
            kept = [s for s in snaps if s.snapshot_id in keep]
            expired_ids = {s.snapshot_id for s in expired}
            for s in kept:
                if s.kind == "checkpoint":
                    continue
                if s.parent_id is not None and s.parent_id not in expired_ids:
                    continue  # parent survives; delta chain stays walkable
                s.kind = "checkpoint"
                s.parent_id = None  # ancestors are gone after this GC
                # write-temp + atomic replace: reads are LOCK-FREE, so an
                # in-place open(path, "w") would expose a truncated JSON to
                # a concurrent reader mid-walk (same pattern as the
                # `current` flip)
                path = self._snapshot_path(s.snapshot_id)
                tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(s.to_json(), f, indent=2, default=str)
                os.replace(tmp, path)
            live_files: set[str] = set()
            for s in kept:
                for m in s.partitions.values():
                    live_files.update(m["files"])
                    live_files.update(d["file"] for d in m.get("deletes") or [])
            dead_files: set[str] = set()
            for s in expired:
                for m in s.partitions.values():
                    dead_files.update(f for f in m["files"] if f not in live_files)
                    dead_files.update(
                        d["file"]
                        for d in m.get("deletes") or []
                        if d["file"] not in live_files
                    )
            # destructive phase begins: commits self-serialize via the gen
            # CAS, but GC relies on the LOCK for exclusion — and the token
            # lease's steal/restore dance has a narrow dual-holder window
            # (a waiter's create+write+validate completing entirely inside
            # a stealer's rename→stat→restore).  Re-verify ownership at the
            # last possible moment so a lease lost mid-computation aborts
            # before anything is unlinked (the object-store analogue is a
            # conditional delete; this is its filesystem emulation).
            if not self._lock_still_owned(fd):
                raise RuntimeError(
                    "commit lock ownership lost during expire_snapshots "
                    "scan; aborting before destructive GC"
                )
            for f in dead_files:
                path = f if os.path.isabs(f) else os.path.join(self.root, f)
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
            for s in expired:
                os.unlink(self._snapshot_path(s.snapshot_id))
                try:
                    # every expired generation is below the hint's seq (the
                    # head always survives), and the reader probe only walks
                    # FORWARD from the hint — holes below it are never
                    # visited.  Content check: a CAS loser or torn commit
                    # shares its seq with the commit that won that
                    # generation but never owns the gen file — unlink only
                    # our own.
                    gp = self._gen_path(s.seq)
                    with open(gp) as f:
                        if f.read().strip() == s.snapshot_id:
                            os.unlink(gp)
                except (FileNotFoundError, OSError):
                    pass  # pre-CAS table / generation won by another commit
            # drop now-empty commit dirs so the data tree stays listable.
            # Spark/Hadoop leave _SUCCESS and .crc sidecars behind in every
            # commit dir — they are write-protocol artifacts, never
            # referenced by any manifest, so a dir holding ONLY markers is
            # empty for GC purposes (otherwise 10^5 commits pin 10^5 husk
            # dirs forever)
            def _is_marker(name: str) -> bool:
                return (
                    name == "_SUCCESS" or name.endswith(".crc") or name.startswith("._")
                )

            if os.path.isdir(self.data_dir):
                for entry in os.listdir(self.data_dir):
                    d = os.path.join(self.data_dir, entry)
                    if os.path.isdir(d) and all(
                        _is_marker(f) for _, _, files in os.walk(d) for f in files
                    ):
                        import shutil

                        shutil.rmtree(d, ignore_errors=True)
            return {
                "snapshots_removed": len(expired),
                "files_removed": len(dead_files),
            }
        finally:
            self._release_lock(fd)
